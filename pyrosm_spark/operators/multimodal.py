"""Image payload operators: decode / verify / feature extraction over
the binary ``bytes`` column.

The Spark-side plumbing — schema, Arrow batch shape, mapInPandas
iterator, partition sizing — is real and tested; the codec layer is
``functions.image_np`` (real PNG, deterministic lossy stand-in ``qimg``,
explicit NotImplementedError stub for libjpeg-dependent formats, per
the task brief: image libs aren't in this container).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyrosm_spark.functions import image_np as I

FEATURE_SCHEMA = (
    "image_id string, ok boolean, err string, h int, w int, "
    "mean_r double, mean_g double, mean_b double, "
    "phash_computed long, phash_match boolean, caption_len int"
)


def decode_features(images: DataFrame, sample_ratio: float = 1.0) -> DataFrame:
    """Decode every payload and emit per-image features + invariant
    checks (phash recompute == stored phash). ``sample_ratio`` < 1
    subsamples deterministically by image_id hash — the bench-mode
    switch the task brief asks for (exhaustive in tests, sampled in
    bench)."""
    if not 0.0 < sample_ratio <= 1.0:
        raise ValueError(
            f"sample_ratio must be in (0, 1], got {sample_ratio!r}")

    def batch_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.bytes is None:
                    continue
                try:
                    px = I.decode_image(bytes(r.bytes), r.fmt)
                    ph = I.phash64(px)
                    m = px.reshape(-1, 3).mean(axis=0)
                    rows.append((r.image_id, True, None, px.shape[0],
                                 px.shape[1], float(m[0]), float(m[1]),
                                 float(m[2]), ph, ph == r.phash,
                                 len(r.caption or "")))
                except NotImplementedError as e:
                    rows.append((r.image_id, False, f"stub: {e}", None, None,
                                 None, None, None, None, None,
                                 len(r.caption or "")))
                except Exception as e:  # corrupt payload -> flagged row
                    rows.append((r.image_id, False, f"{type(e).__name__}: {e}",
                                 None, None, None, None, None, None, None,
                                 len(r.caption or "")))
            yield pd.DataFrame(rows, columns=[
                "image_id", "ok", "err", "h", "w", "mean_r", "mean_g",
                "mean_b", "phash_computed", "phash_match", "caption_len",
            ])

    src = images.select("image_id", "bytes", "fmt", "phash", "caption")
    if sample_ratio < 1.0:
        mod = max(int(1.0 / sample_ratio), 1)
        src = src.filter(F.pmod(F.xxhash64("image_id"), F.lit(mod)) == 0)
    return src.mapInPandas(batch_fn, schema=FEATURE_SCHEMA)
