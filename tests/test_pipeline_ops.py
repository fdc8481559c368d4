"""Image decode and graph dispatch checks: ``decode_features``
invariants and per-row degradation on poison payloads, and the
strongly-connected-components dispatch on string node ids.
"""

import os

import pytest
from pyspark.sql import functions as F

from pyrosm_spark.operators import multimodal as M


def test_decode_features_invariants(spark, synth_dir):
    images = spark.read.parquet(os.path.join(synth_dir, "images.parquet"))
    feats = M.decode_features(images)
    rows = feats.collect()
    assert len(rows) == images.filter(F.col("bytes").isNotNull()).count()
    assert all(r["ok"] for r in rows)
    assert all(r["phash_match"] for r in rows)


def test_decode_features_sample_ratio_validated(spark):
    """sample_ratio=0 would divide by zero deriving the hash modulus;
    negative ratios would silently keep every row — both rejected."""
    import pyrosm_spark.operators.multimodal as M

    df = spark.createDataFrame([("a", None, "png", 0, "")],
                               "image_id string, bytes binary, fmt string,"
                               " phash long, caption string")
    for bad in (0.0, -0.5, 1.5):
        with pytest.raises(ValueError, match="sample_ratio"):
            M.decode_features(df, sample_ratio=bad)


def test_media_null_payloads_degrade_per_row(spark):
    """A NULL payload row is skipped and a NULL or corrupt format row
    becomes an err record: a poison row must never kill a decode job
    mid-stage."""
    from pyrosm_spark.functions import image_np as I

    good = bytearray(I.encode_png(I.synth_pixels(1, 8, 8)))
    df = spark.createDataFrame(
        [("ok", good, "png", 0, "c"),
         ("null_bytes", None, "png", 0, "c"),
         ("null_fmt", good, None, 0, None),
         ("junk", bytearray(b"not an image"), "png", 0, "c")],
        "image_id string, bytes binary, fmt string, phash long, "
        "caption string")
    out = {r["image_id"]: r for r in M.decode_features(df).collect()}
    assert set(out) == {"ok", "null_fmt", "junk"}
    assert out["ok"]["ok"] and (out["ok"]["h"], out["ok"]["w"]) == (8, 8)
    for bad in ("null_fmt", "junk"):
        assert not out[bad]["ok"] and out[bad]["err"]


def test_scc_auto_dispatch_string_ids(spark):
    """scc_components' Tarjan arm must handle string node ids exactly
    like the distributed arm (the dispatch is documented as invisible
    to callers, and connected_components warns never to hardcode
    long)."""
    from pyrosm_spark.operators.graph import (
        scc_components,
        scc_components_distributed,
    )

    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(rows, "u string, v string")
    tarjan = {r["node"]: r["comp"] for r in scc_components(df).collect()}
    dist = {r["node"]: r["comp"] for r in
            scc_components_distributed(df).collect()}
    assert tarjan == dist
    assert tarjan["a"] == tarjan["b"] == tarjan["c"] == "a"
    assert tarjan["d"] == "d" and tarjan["e"] == "e"

