"""Deterministic image+caption payload table (BASELINE.json input_hint).

Schema: (image_id string, bytes binary, w int, h int, fmt string,
caption string, phash long, lon double, lat double).

* ``bytes`` are real encoded images: ``png`` rows via the pure-zlib PNG
  encoder (lossless), ``qimg`` rows via the deterministic 6-bit
  quantizing lossy codec (PSNR ~46 dB) — see functions/image_np.py.
* ``lon``/``lat`` are a deterministic function of the row index (hashed),
  so tile assignment has a closed-form oracle; they are also
  materialized as columns so DuckDB reads them directly.
* Skew: ``hot_frac`` of rows are concentrated into ``n_hot`` tiny "city
  center" discs (FIXTURES.md §1 skew requirement) — this is what the
  salting/AQE skew handling is exercised against.

Generation is numpy-vectorized for coordinates; the per-row encode loop
runs only for rows that carry bytes (``bytes_every``-th row at bench
scale) to keep generation O(seconds) at millions of rows.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyrosm_spark.functions.image_np import (
    decode_qimg,
    encode_png,
    encode_qimg,
    phash64,
    synth_pixels,
)
from pyrosm_spark.synth.osm import LAT_MAX, LAT_MIN, LON_MAX, LON_MIN

_CAPTION_WORDS = [
    "aerial", "view", "of", "the", "city", "harbor", "street", "building",
    "park", "snow", "summer", "night", "market", "square", "tram", "island",
    "forest", "lake", "bridge", "cathedral", "district", "rooftop",
]


def _coords(n: int, seed: int, hot_frac: float, n_hot: int):
    """Deterministic lon/lat: uniform background + hot discs (skew)."""
    rng = np.random.default_rng(seed)
    lon = rng.uniform(LON_MIN, LON_MAX, n)
    lat = rng.uniform(LAT_MIN, LAT_MAX, n)
    hot = rng.random(n) < hot_frac
    hot_idx = rng.integers(0, n_hot, n)
    centers_lon = np.linspace(LON_MIN + 0.1, LON_MAX - 0.1, n_hot)
    centers_lat = np.linspace(LAT_MIN + 0.05, LAT_MAX - 0.05, n_hot)
    disc = 0.004  # ~hot-cell radius in degrees
    lon = np.where(hot, centers_lon[hot_idx] + rng.normal(0, disc, n), lon)
    lat = np.where(hot, centers_lat[hot_idx] + rng.normal(0, disc / 2, n), lat)
    return lon.clip(LON_MIN, LON_MAX), lat.clip(LAT_MIN, LAT_MAX)


def _caption(i: int) -> str:
    k = len(_CAPTION_WORDS)
    words = [_CAPTION_WORDS[(i * 7 + j * 13) % k] for j in range(3 + i % 5)]
    return " ".join(words) + f" #{i}"


def generate_images_table(
    out_path: str,
    n_rows: int = 2000,
    seed: int = 42,
    hot_frac: float = 0.3,
    n_hot: int = 4,
    bytes_every: int = 1,
    row_group_size: int = 25_000,
    rows_per_file: int | None = None,
) -> str:
    """Write the images parquet; rows where ``i % bytes_every != 0`` carry
    NULL bytes (metadata-only rows) so bench-scale tables stay small while
    the decode path still has real payloads to chew on."""
    # coordinate/size arrays are seeded over the WHOLE table (chunked
    # rng draws would change the stream, breaking determinism vs the
    # committed tables); they cost 8 bytes/row — the scalable part
    lon, lat = _coords(n_rows, seed, hot_frac, n_hot)
    rng = np.random.default_rng(seed + 7)
    widths = rng.choice([16, 24, 32], n_rows).astype(np.int32)
    heights = rng.choice([16, 24], n_rows).astype(np.int32)
    fmts = np.where(np.arange(n_rows) % 3 == 0, "qimg", "png")

    def chunk_table(i0: int, i1: int) -> pa.Table:
        """Rows [i0, i1) — strings/blobs are pure functions of the row
        index, so per-chunk materialization is byte-identical to the
        old whole-table build while bounding generator memory by the
        chunk size, not the table size (128M-row tables previously
        held ~25 GB of Python strings at once)."""
        image_ids = [f"img{i:09d}" for i in range(i0, i1)]
        captions = [_caption(i) for i in range(i0, i1)]
        blobs: list = []
        phashes = np.zeros(i1 - i0, dtype=np.int64)
        for i in range(i0, i1):
            if i % bytes_every != 0:
                # metadata-only row: no payload, but phash must still
                # be a realistic distinct value — a constant would
                # create one giant hamming-band bucket (quadratic
                # blowup in phash_pairs; found the hard way at scale)
                h = int.from_bytes(
                    hashlib.md5(image_ids[i - i0].encode()).digest()[:8],
                    "big")
                phashes[i - i0] = h - (1 << 64) if h >= 1 << 63 else h
                blobs.append(None)
                continue
            px = synth_pixels(seed * 1_000_003 + i,
                              int(widths[i]), int(heights[i]))
            if fmts[i] == "qimg":
                blob = encode_qimg(px)
                # phash contract: hash of the DECODED pixels
                # (FIXTURES.md §1) — for lossy rows that is the
                # dequantized image, not the source.
                phashes[i - i0] = phash64(decode_qimg(blob))
            else:
                blob = encode_png(px)
                phashes[i - i0] = phash64(px)  # lossless: decode == src
            blobs.append(blob)
        return pa.table(
            {
                "image_id": pa.array(image_ids, pa.string()),
                "bytes": pa.array(blobs, pa.binary()),
                "w": pa.array(widths[i0:i1], pa.int32()),
                "h": pa.array(heights[i0:i1], pa.int32()),
                "fmt": pa.array(fmts[i0:i1].tolist(), pa.string()),
                "caption": pa.array(captions, pa.string()),
                "phash": pa.array(phashes, pa.int64()),
                "lon": pa.array(lon[i0:i1], pa.float64()),
                "lat": pa.array(lat[i0:i1], pa.float64()),
            }
        )

    d = os.path.dirname(out_path)
    if d:  # bare relative filename has no dir component
        os.makedirs(d, exist_ok=True)
    if rows_per_file and n_rows > rows_per_file:
        # multi-file layout: input splits for free (a single big file
        # caps scan parallelism at its row-group granularity); one
        # chunk is built and written at a time
        if os.path.isfile(out_path):
            os.remove(out_path)
        os.makedirs(out_path, exist_ok=True)
        # a rebuild with fewer rows must not leave stale high-numbered
        # parts behind — readers glob the directory and would silently
        # include them
        import glob as _glob

        for stale in _glob.glob(os.path.join(out_path, "part-*.parquet")):
            os.remove(stale)
        for i in range(0, n_rows, rows_per_file):
            pq.write_table(
                chunk_table(i, min(i + rows_per_file, n_rows)),
                os.path.join(out_path, f"part-{i // rows_per_file:05d}.parquet"),
                row_group_size=row_group_size,
            )
    else:
        if os.path.isdir(out_path):
            # switching back from the multi-file layout: replace the
            # directory instead of crashing pq.write_table on it
            import shutil as _shutil

            _shutil.rmtree(out_path)
        pq.write_table(chunk_table(0, n_rows), out_path,
                       row_group_size=row_group_size)
    return out_path


def ensure_images_table(out_path: str, n_rows: int = 2000, **kw) -> str:
    if os.path.exists(out_path):
        return out_path
    return generate_images_table(out_path, n_rows=n_rows, **kw)
