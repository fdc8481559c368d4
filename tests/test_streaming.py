"""Structured Streaming paths: stream results == batch results."""

import os

import pytest
from pyspark.sql import functions as F

from pyrosm_spark.streaming.ingest import (
    read_images_stream,
    run_to_memory,
    streaming_tile_assignment,
)


def test_streaming_tile_assignment_matches_batch(spark, synth_dir):
    from pyrosm_spark.operators.spatial_join import assign_tiles

    img_path = os.path.join(synth_dir, "images.parquet")
    stream = read_images_stream(spark, img_path)
    run_to_memory(streaming_tile_assignment(stream, 15), "tiles_stream",
                  output_mode="append")
    got = {r["image_id"]: r["cell"] for r in
           spark.sql("SELECT * FROM tiles_stream").collect()}
    batch = assign_tiles(spark.read.parquet(img_path), 15)
    exp = {r["image_id"]: r["cell"] for r in
           batch.select("image_id", "cell").collect()}
    assert got == exp


def test_stateful_cell_counts_matches_batch(spark, synth_dir):
    """applyInPandasWithState running totals: the LAST emitted row per
    cell must equal the batch groupBy totals."""
    from pyspark.sql import functions as F

    from pyrosm_spark.functions import tiles
    from pyrosm_spark.streaming.ingest import (
        read_images_stream,
        run_to_memory,
        stateful_cell_counts,
    )

    img_path = os.path.join(synth_dir, "images.parquet")
    stream = read_images_stream(spark, img_path, max_files_per_trigger=1)
    out = stateful_cell_counts(stream, res=12)
    run_to_memory(out, "cell_state", output_mode="update")
    rows = spark.sql("SELECT * FROM cell_state").collect()
    # keep the max (= final cumulative) per cell
    final = {}
    for r in rows:
        cur = final.get(r["cell"])
        if cur is None or r["n_images"] > cur[0]:
            final[r["cell"]] = (r["n_images"], r["total_bytes"])

    batch = (
        spark.read.parquet(img_path)
        .select(
            F.when(F.col("bytes").isNotNull(),
                   F.length("bytes")).otherwise(0).alias("nbytes"),
            tiles.cell_id(F.col("lon"), F.col("lat"), 12).alias("cell"),
        )
        .groupBy("cell")
        .agg(F.count("*").alias("n"), F.sum("nbytes").alias("b"))
    )
    exp = {r["cell"]: (r["n"], r["b"]) for r in batch.collect()}
    assert final == exp and len(exp) > 10


def test_streaming_pip_equals_batch(spark, synth_dir, tmp_path_factory):
    """Stream-static PIP join == the batch join on the same rows."""
    from pyrosm_spark.operators.layers import get_buildings
    from pyrosm_spark.operators.osm_source import load_osm
    from pyrosm_spark.operators.spatial_join import point_in_polygon_join
    from pyrosm_spark.streaming.ingest import (
        read_images_stream,
        run_to_memory,
        streaming_pip_join,
    )

    nodes, ways, rels = load_osm(spark, synth_dir)
    polygons = get_buildings(nodes, ways, rels).select(
        "id", "osm_type", "geometry").cache()
    polygons.count()

    img_path = f"{synth_dir}/images.parquet"
    stream = read_images_stream(spark, img_path)
    out = streaming_pip_join(stream, polygons, res=15).select(
        "image_id", "poly_id", "poly_osm_type")
    run_to_memory(out, "q_stream_pip", output_mode="append")
    got = {(r["image_id"], r["poly_id"], r["poly_osm_type"])
           for r in spark.sql("SELECT * FROM q_stream_pip").collect()}

    batch = point_in_polygon_join(
        spark.read.parquet(img_path), polygons, res=15
    ).select("image_id", "poly_id", "poly_osm_type")
    exp = {(r["image_id"], r["poly_id"], r["poly_osm_type"])
           for r in batch.collect()}
    assert got == exp and len(exp) > 0
