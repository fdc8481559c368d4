"""Benchmark inputs, generated once into ``perfbench/data`` and reused.

Everything the program reads is built here from ``pyrosm_spark.synth``
(never ``data/synth``, which the test suite rewrites). Generation is a
one-time cost per checkout and is excluded from ``setup_s``.

The OSM worlds are fixed (synth seed 42) so every op on them has one
recorded answer in ``expected.json``. The run seed picks the query-side
inputs from fixed pools: which image batches stream through
``tile_stream``, which point sample ``osm_layers`` joins, which bbox
quadrant the traced sweep crops. Same seed, same inputs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

WORLD_SEED = 42
# Street-grid size of the world shared by tile_stream and osm_layers,
# and of the smaller world the traced sweep decodes from .osm.pbf.
WORLD_GRID = 64
PBF_GRID = 12
# Image pool: POOL_BATCHES files of BATCH_ROWS geometry-only rows with
# the synth hot-disc skew (30% of rows in 4 dense discs).
POOL_BATCHES = 6
BATCH_ROWS = 500_000
IMAGES_SEED = 7
# Batches one tile_stream run cycles through.
RUN_BATCHES = 4
# Points osm_layers joins against each fresh polygon layer.
SAMPLE_ROWS = 20_000


def world_dir() -> str:
    return os.path.join(DATA, f"world_g{WORLD_GRID}_s{WORLD_SEED}")


def pbf_src_dir() -> str:
    return os.path.join(DATA, f"pbfsrc_g{PBF_GRID}_s{WORLD_SEED}")


def pbf_path() -> str:
    return os.path.join(DATA, f"world_g{PBF_GRID}_s{WORLD_SEED}.osm.pbf")


def images_dir() -> str:
    return os.path.join(
        DATA, f"images_{POOL_BATCHES}x{BATCH_ROWS}_s{IMAGES_SEED}")


def batch_path(i: int) -> str:
    return os.path.join(images_dir(), f"part-{i:05d}.parquet")


def scratch_dir() -> str:
    """Per-process directory for files a pass writes; removed at exit."""
    return os.path.join(DATA, "tmp", str(os.getpid()))


def _publish(build, final: str) -> None:
    """Build into a temporary sibling and rename, so an interrupted
    generation never leaves a half-written input that looks complete."""
    if os.path.exists(final):
        return
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.rename(tmp, final)


def ensure_tables() -> None:
    """The parquet inputs (no Spark needed)."""
    from pyrosm_spark.synth import generate_images_table, generate_osm_tables

    os.makedirs(DATA, exist_ok=True)
    _publish(lambda d: generate_osm_tables(d, grid=WORLD_GRID,
                                           seed=WORLD_SEED), world_dir())
    _publish(lambda d: generate_osm_tables(d, grid=PBF_GRID,
                                           seed=WORLD_SEED), pbf_src_dir())
    n = POOL_BATCHES * BATCH_ROWS
    _publish(lambda d: generate_images_table(
        d, n_rows=n, seed=IMAGES_SEED, bytes_every=n,
        rows_per_file=BATCH_ROWS), images_dir())


def ensure_pbf(spark) -> None:
    """The .osm.pbf input; its writer runs on Spark."""
    from pyrosm_spark.operators.osm_source import load_osm
    from pyrosm_spark.sources.pbf import write_pbf

    final = pbf_path()
    if os.path.exists(final):
        return
    tmp = f"{final}.tmp{os.getpid()}"
    write_pbf(*load_osm(spark, pbf_src_dir()), tmp)
    os.rename(tmp, final)


def pick(seed: int) -> dict:
    """The query-side inputs of one seed."""
    rng = np.random.default_rng(seed)
    order = rng.permutation(POOL_BATCHES)
    return {
        "batches": [int(b) for b in order[:RUN_BATCHES]],
        "sample_batch": int(order[RUN_BATCHES]),
        "quadrant": int(rng.integers(4)),
    }


def quadrant_bbox(q: int) -> tuple:
    """One quarter of the synth region (x half = q % 2, y half = q // 2)."""
    from pyrosm_spark.synth.osm import LAT_MAX, LAT_MIN, LON_MAX, LON_MIN

    lon_mid = (LON_MIN + LON_MAX) / 2
    lat_mid = (LAT_MIN + LAT_MAX) / 2
    xs = ((LON_MIN, lon_mid), (lon_mid, LON_MAX))[q % 2]
    ys = ((LAT_MIN, lat_mid), (lat_mid, LAT_MAX))[q // 2]
    return (xs[0], ys[0], xs[1], ys[1])
