"""Similarity operators vs their DuckDB oracle SQL, plus the image
decode and graph dispatch checks that ride in this module.

The oracle tests run the Spark DataFrame op and the oracle SQL on the
same parquet and compare sorted values, so any mismatch shows up here
first.
"""

import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from pyrosm_spark.operators import multimodal as M
from pyrosm_spark.operators import similarity as S

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    return con


def compare(spark_df, duck_rows, duck_cols, float_tol=1e-9):
    """Order-insensitive row compare with float tolerance."""
    got_cols = spark_df.columns
    assert sorted(got_cols) == sorted(duck_cols), (got_cols, duck_cols)
    reorder = [got_cols.index(c) for c in duck_cols]

    def norm(rows):
        out = []
        for r in rows:
            vals = []
            for v in r:
                if isinstance(v, float):
                    vals.append(round(v, 6))
                else:
                    vals.append(v)
            out.append(tuple(vals))
        return sorted(out, key=lambda t: tuple(str(x) for x in t))

    got = norm([tuple(r[i] for i in reorder) for r in spark_df.collect()])
    exp = norm([tuple(r) for r in duck_rows])
    assert len(got) == len(exp), (len(got), len(exp))
    for g, e in zip(got, exp):
        for gv, ev in zip(g, e):
            if isinstance(gv, float) and isinstance(ev, float):
                assert math.isclose(gv, ev, rel_tol=1e-6, abs_tol=1e-6), (g, e)
            else:
                assert gv == ev, (g, e)


def run_oracle(duck, sql):
    cur = duck.execute(sql)
    cols = [d[0] for d in cur.description]
    return cur.fetchall(), cols


def test_cosine_topk_vs_oracle(spark, emb, duck):
    got = S.cosine_topk(emb.filter(F.col("vec_id") < 20), emb, k=5)
    rows, cols = run_oracle(
        duck, S.cosine_topk_sql("embeddings", 5, "q.vec_id < 20"))
    compare(got, rows, cols)


def test_ann_lsh_recall(spark, emb):
    """Multi-table LSH ANN recall vs exact top-1.

    These synthetic embeddings have weak nearest neighbors (top-1
    cosine ~0.35 => per-plane collision ~0.62), so the analytical
    recall for 4 planes x 16 tables is 1-(1-0.62^4)^16 ~ 0.92; assert
    comfortably below that but far above chance. Also check the
    returned cosines are never better than exact (sanity)."""
    exact = S.cosine_topk(emb.filter(F.col("vec_id") < 50), emb, k=1)
    approx = S.ann_topk_lsh(emb.filter(F.col("vec_id") < 50), emb, k=1,
                            n_planes=4, n_tables=16)
    e = {r["query_id"]: (r["neighbor_id"], r["cosine"])
         for r in exact.collect()}
    a = {r["query_id"]: (r["neighbor_id"], r["cosine"])
         for r in approx.collect()}
    hits = sum(1 for q in a if e.get(q, (None,))[0] == a[q][0])
    assert len(a) > 0
    assert hits / max(len(e), 1) > 0.5, f"recall {hits}/{len(e)}"
    for q, (nid, cos) in a.items():
        assert cos <= e[q][1] + 1e-9  # approx can never beat exact


def test_ann_ivf_recall(spark, emb):
    """IVF ANN vs exact top-1: corpus assigned to its nearest of 8
    centroids, queries probing 4 cells cover half the codebook — on
    weakly-clustered synthetic embeddings that bounds recall well
    above chance; approx cosine can never beat exact. Also pin the
    invariant that IVF scores each (query, corpus-cell) pair at most
    once (corpus replication factor 1)."""
    exact = S.cosine_topk(emb.filter(F.col("vec_id") < 50), emb, k=1)
    approx = S.ann_topk_ivf(emb.filter(F.col("vec_id") < 50), emb, k=1,
                            n_cells=8, nprobe=4)
    e = {r["query_id"]: (r["neighbor_id"], r["cosine"])
         for r in exact.collect()}
    a = {r["query_id"]: (r["neighbor_id"], r["cosine"])
         for r in approx.collect()}
    assert len(a) > 0
    hits = sum(1 for q in a if e.get(q, (None,))[0] == a[q][0])
    assert hits / max(len(e), 1) > 0.4, f"recall {hits}/{len(e)}"
    for q, (nid, cos) in a.items():
        assert cos <= e[q][1] + 1e-9


def test_ann_ivf_deterministic_codebook(spark, emb):
    """Codebook is a pure function of (sample, n_cells, seed)."""
    import numpy as np

    c1 = S.train_ivf_centroids(emb, n_cells=4, dim=64, iters=3)
    c2 = S.train_ivf_centroids(emb, n_cells=4, dim=64, iters=3)
    assert np.array_equal(c1, c2)
    assert c1.shape == (4, 64)


def test_kmeans_dead_cells_reseed_distinct():
    """Dead cells re-seed from DISTINCT farthest points: clustered
    data with more cells than natural clusters must not leave
    duplicate centroids (duplicates stay dead forever — stable argmin
    ties route every member to the lowest-index copy — so nprobe
    probes them for nothing)."""
    import numpy as np

    rng = np.random.default_rng(7)
    # 3 tight, well-separated clusters; ask for 8 cells
    centers = np.array([[0.0, 0.0], [100.0, 0.0], [0.0, 100.0]])
    mat = np.concatenate(
        [c + 0.01 * rng.standard_normal((40, 2)) for c in centers])
    cb = S.kmeans_codebook(mat, n_cells=8, iters=8)
    assert cb.shape == (8, 2)
    uniq = np.unique(np.round(cb, 9), axis=0)
    assert len(uniq) == 8, f"only {len(uniq)} distinct centroids"


def test_kmeans_tiny_sample_clamps_cells():
    """A training sample smaller than n_cells must clamp (previously:
    IndexError in the dead-cell re-seed)."""
    import numpy as np

    mat = np.arange(10, dtype=np.float64).reshape(5, 2)
    cb = S.kmeans_codebook(mat, n_cells=8, iters=4)
    assert cb.shape == (5, 2)


def test_codebook_training_input_validation():
    """Empty corpora and non-divisible PQ subspace splits raise clear
    errors instead of numpy IndexErrors / silent dim truncation."""
    import numpy as np
    import pytest

    with pytest.raises(ValueError, match="empty training sample"):
        S.kmeans_codebook(np.array([]), 16)
    # the shared PQ core guards dim % m for EVERY caller, including
    # ann_topk_ivfpq's combined-training branch
    mat = np.arange(128, dtype=np.float64).reshape(2, 64)
    with pytest.raises(ValueError, match="not divisible"):
        S.pq_codebooks_from_sample(mat, m=5, kc=4)


def test_lsh_cosine_pairs_vs_oracle(spark, emb, duck):
    got = S.lsh_cosine_pairs(emb, threshold=0.3)
    rows, cols = run_oracle(duck, S.lsh_cosine_pairs_sql("embeddings", 0.3))
    compare(got, rows, cols)


def test_ivf_sample_hash_mirrors_numpy(spark, emb):
    """The Spark-side hash-prefix sample and the oracle-side numpy
    formula must pick the identical id set (bit-for-bit mirror)."""
    import numpy as np
    from pyspark.sql import functions as F

    from pyrosm_spark.operators.similarity import (
        _IVF_SAMPLE_MOD,
        _IVF_SAMPLE_MULT,
        _IVF_SAMPLE_RING,
    )

    h = F.pmod(
        F.pmod(F.col("vec_id").cast("long"), F.lit(_IVF_SAMPLE_RING))
        * F.lit(_IVF_SAMPLE_MULT), F.lit(_IVF_SAMPLE_RING))
    spark_ids = sorted(
        r["vec_id"] for r in emb.filter(
            F.pmod(h, F.lit(_IVF_SAMPLE_MOD)) == 0).collect())
    ids = np.array(sorted(r["vec_id"] for r in emb.collect()),
                   dtype=np.int64)
    hh = ((ids % _IVF_SAMPLE_RING) * _IVF_SAMPLE_MULT) % _IVF_SAMPLE_RING
    np_ids = sorted(ids[hh % _IVF_SAMPLE_MOD == 0].tolist())
    assert spark_ids == np_ids
    assert 0 < len(np_ids) < len(ids)  # a real subsample on this corpus


def test_ann_ivfpq_vs_oracle(spark, emb, duck):
    """The full IVF-PQ pipeline (coarse assign, PQ codes, ADC scores,
    ranking) must match the DuckDB mirror that re-derives the same
    codebooks and embeds them as literals — the oracle checks the
    exact approximate ranking, not recall."""
    import os

    got = S.ann_topk_ivfpq(emb.filter(F.col("vec_id") < 20), emb, k=5,
                           n_cells=8, nprobe=4, m=4, kc=16)
    rows, cols = run_oracle(duck, S.ann_ivfpq_sql(
        os.path.join(SF_DIR, "embeddings.parquet"),
        "embeddings", k=5, n_cells=8, nprobe=4, m=4, kc=16))
    compare(got, rows, cols)


def test_ann_ivfpq_planted_self_retrieval(spark, emb):
    """A near-identical planted vector quantizes to the same PQ codes
    as its source, so its ADC score ties the best possible — IVF-PQ
    must retrieve the plant at rank 1 for the source query (the recall
    property PQ actually promises: near-duplicates survive
    quantization)."""
    src = emb.filter(F.col("vec_id") == 7).collect()[0]
    plant = spark.createDataFrame(
        [(999_777, list(src["embedding"]))],
        "vec_id long, embedding array<float>")
    corpus = emb.select("vec_id", "embedding").unionByName(plant)
    got = S.ann_topk_ivfpq(emb.filter(F.col("vec_id") == 7), corpus,
                           k=3, n_cells=8, nprobe=4, m=4, kc=16)
    top = {r["rank"]: r["neighbor_id"] for r in got.collect()}
    assert top[1] == 999_777


def test_ann_ivfpq_deterministic_and_bounded(spark, emb):
    """Codebooks are pure functions of the sample; ADC cosine is the
    quantized estimate so it must stay in [-1-eps, 1+eps]; codes carry
    m entries each within [0, kc)."""
    import numpy as np

    b1 = S.train_pq_codebooks(emb, m=4, kc=8)
    b2 = S.train_pq_codebooks(emb, m=4, kc=8)
    assert np.array_equal(b1, b2)
    assert b1.shape == (4, 8, 16)
    got = S.ann_topk_ivfpq(emb.filter(F.col("vec_id") < 10), emb, k=3,
                           n_cells=8, nprobe=8, m=4, kc=16).collect()
    assert len(got) > 0
    for r in got:
        assert -1.5 <= r["cosine"] <= 1.5


def test_topk_zero_norm_vectors_excluded(spark):
    """A zero embedding has NaN cosine with everything, and Spark ranks
    NaN ABOVE every double — one all-zero corpus row would displace a
    real neighbor from every query's top-k. All four top-k paths must
    exclude zero-norm rows on both sides."""
    import pyrosm_spark.operators.similarity as S

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
            (3, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.cosine_topk(df, df, k=2).collect()
    assert all(r["neighbor_id"] != 3 for r in out)
    assert all(r["query_id"] != 3 for r in out)
    assert not any(r["cosine"] != r["cosine"] for r in out)  # no NaN
    top = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert top[0] == 1 and top[1] == 0
    lsh = S.ann_topk_lsh(df, df, k=2, dim=2).collect()
    assert all(r["neighbor_id"] != 3 and r["query_id"] != 3 for r in lsh)
    ivf = S.ann_topk_ivf(df, df, k=2, n_cells=2, dim=2).collect()
    assert all(r["neighbor_id"] != 3 and r["query_id"] != 3 for r in ivf)


def test_embedding_cosine_vs_oracle(spark, emb, duck):
    got = S.embedding_cosine_pairs(emb, threshold=0.9)
    rows, cols = run_oracle(duck, S.embedding_cosine_sql("embeddings", 0.9))
    compare(got, rows, cols)


def test_lsh_cosine_pairs_subset_of_exact(spark, emb):
    """Every LSH-bucketed pair is a true pair (exact cosine refine):
    the candidate stage only affects RECALL, never precision."""
    lsh = {(r["vec_a"], r["vec_b"]): r["cosine"]
           for r in S.lsh_cosine_pairs(emb, threshold=0.3).collect()}
    exact = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in S.embedding_cosine_pairs(emb, threshold=0.3).collect()}
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]


def test_embedding_cosine_pairs_size_gate(spark, emb):
    """The exact all-pairs join is an oracle anchor: above max_rows it
    refuses and points at the LSH scale path; max_rows=None forces."""
    with pytest.raises(ValueError, match="lsh_cosine_pairs"):
        S.embedding_cosine_pairs(emb, max_rows=10).count()
    # explicit bypass still works
    assert S.embedding_cosine_pairs(
        emb.limit(30), threshold=0.0, max_rows=None).count() > 0


def test_zero_norm_embedding_never_pairs(spark):
    """A zero vector's cosine is 0/0 = NaN, and Spark orders NaN above
    every double — without the norm guard it pairs with everything."""
    import pandas as pd

    rows = [(1, [0.0] * 4), (2, [1.0, 0.0, 0.0, 0.0]),
            (3, [1.0, 0.001, 0.0, 0.0]), (4, [0.0] * 4)]
    df = spark.createDataFrame(
        [(i, v) for i, v in rows], "vec_id long, embedding array<double>")
    exact = S.embedding_cosine_pairs(df, threshold=0.9).collect()
    ids = {(r["id_a"], r["id_b"]) for r in exact}
    assert ids == {(2, 3)}
    lsh = S.lsh_cosine_pairs(df, threshold=0.9, dim=4).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in lsh} <= {(2, 3)}
    # oracle parity on the same frame
    pdf = pd.DataFrame({"vec_id": [r[0] for r in rows],
                        "embedding": [r[1] for r in rows]})
    con = duckdb.connect()
    con.register("emb_t", pdf)
    con.execute("CREATE VIEW zemb AS SELECT * FROM emb_t")
    exp = {(r[0], r[1]) for r in con.execute(
        S.embedding_cosine_sql("zemb", 0.9)).fetchall()}
    assert exp == ids


def test_oracle_gate_detects_value_and_row_divergence(spark, emb, duck):
    """Sensitivity check on the compare itself: a deliberately
    perturbed engine result must FAIL the oracle compare (guards
    against vacuously-green oracles)."""
    good = S.cosine_topk(emb.filter(F.col("vec_id") < 20), emb, k=5)
    rows, cols = run_oracle(
        duck, S.cosine_topk_sql("embeddings", 5, "q.vec_id < 20"))
    compare(good, rows, cols)  # baseline sanity

    # value perturbation: shift one cosine
    bad_vals = good.withColumn(
        "cosine",
        F.when((F.col("query_id") == 0) & (F.col("rank") == 1),
               F.col("cosine") + 0.01)
        .otherwise(F.col("cosine")))
    with pytest.raises(AssertionError):
        compare(bad_vals, rows, cols)

    # row perturbation: drop one row
    bad_rows = good.filter((F.col("query_id") != 0) | (F.col("rank") != 1))
    with pytest.raises(AssertionError):
        compare(bad_rows, rows, cols)

    # schema perturbation: renamed column
    bad_schema = good.withColumnRenamed("neighbor_id", "neighbour_id")
    with pytest.raises(AssertionError):
        compare(bad_schema, rows, cols)


def test_interleaved_same_op_released_pin_recomputes(spark, emb):
    """Pin-lifecycle contract under two interleaved pipelines of the
    SAME operator in one session: the second call releases the first
    call's pinned bucket frame (per-tag lifecycle, spatial_join._pin),
    so a still-unevaluated plan returned by the first call loses its
    cache — and must RECOMPUTE from deterministic lineage, not fail or
    change results."""
    from pyrosm_spark.operators import spatial_join as SJ
    SJ.release_pinned_caches()
    first = S.lsh_cosine_pairs(emb, threshold=0.3)   # pins buckets #1
    first_pins = list(SJ._PINNED.get("emb_lsh_buckets") or [])
    assert first_pins
    second = S.lsh_cosine_pairs(emb, threshold=0.3)  # releases #1
    now = SJ._PINNED.get("emb_lsh_buckets") or []
    assert now and all(f is not g for f in first_pins for g in now), \
        "second call must have released the first call's pin"
    # the first plan still evaluates — recomputed, identical pair set
    a = {(r["vec_a"], r["vec_b"]) for r in first.collect()}
    b = {(r["vec_a"], r["vec_b"]) for r in second.collect()}
    assert a == b and len(a) > 0
    SJ.release_pinned_caches()


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

