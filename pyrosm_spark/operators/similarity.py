"""Similarity search over embedding columns: brute-force cosine top-k
(the correctness baseline) and hyperplane-LSH bucketed ANN (the scale
path).

At 10^12 rows the brute-force path is only for broadcast-sized query
sets (its shape is queries x corpus with the corpus streamed); the LSH
path buckets the corpus once (signature = sign pattern of R random
hyperplane dots) and probes only matching buckets — per-bucket work,
equi-join shaped, skew-safe under AQE.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from pyrosm_spark.functions.vectors import dot as _dot

_HYPERPLANE_SEED = 20260816

# IVF codebook sampling: multiplicative hash over the 32-bit id ring;
# multiplier < 2^31 keeps the product under 2^63 in both Spark longs
# and numpy int64, so the engine and the DuckDB-oracle builder compute
# the identical sample membership.
_IVF_SAMPLE_RING = 4294967296  # 2^32
_IVF_SAMPLE_MULT = 1327217885
_IVF_SAMPLE_MOD = 16
N_PLANES = 12  # default bucket bits (4096 buckets) for corpus bucketing


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self-matches).

    The dot product is a native zip_with/aggregate (JVM codegen, no
    Python); ranking is one window. The query side is broadcast so the
    corpus never shuffles — scan-shaped at any corpus size.
    """
    # zero-norm guard (mirrors the pair operators below): a zero
    # vector's cosine is 0/0 = NaN, and Spark orders NaN ABOVE every
    # double in the rank window — one all-zero corpus embedding would
    # take rank 1 for EVERY query, displacing a real neighbor
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    ).withColumn("qnorm", F.sqrt(_dot(F.col("qvec"), F.col("qvec")))) \
     .filter(F.col("qnorm") > 0)
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("cnorm", F.sqrt(_dot(F.col("cvec"), F.col("cvec")))) \
     .filter(F.col("cnorm") > 0)
    qq = F.broadcast(q) if broadcast_queries else q
    scored = (
        c.join(qq, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(_dot(F.col("qvec"), F.col("cvec"))
                    / (F.col("qnorm") * F.col("cnorm")), 6),
        )
    )
    return _topk_per_query(scored, k)


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Global top-k per query in two stages so no single task ever
    holds a query's full candidate set: (1) top-k per (query, input
    partition) — the window key includes spark_partition_id, so its
    exchange spreads each query over ~shuffle.partitions reducers with
    bounded per-key groups instead of one hot key; (2) the global
    window over the surviving <= partitions x k rows per query.
    Identical result set: stage 1 keeps a superset of every global
    winner under the SAME (cosine desc, neighbor asc) ordering.
    Without the pre-reduction, row_number over partitionBy(query)
    funnels a query's whole scored corpus through one task — the
    exact OOM shape an exact-scoring baseline hits at scale."""
    part = scored.withColumn("_p", F.spark_partition_id())
    wl = W.partitionBy("query_id", "_p").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    local = (part.withColumn("_lr", F.row_number().over(wl))
             .filter(F.col("_lr") <= k).drop("_lr"))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                          F.col("neighbor_id").asc())
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _ann_dedupe(scored: DataFrame) -> DataFrame:
    """Multi-probe can surface the same (query, neighbor) from several
    buckets — collapse before ranking."""
    return scored.dropDuplicates(["query_id", "neighbor_id"])


def cosine_topk_sql(table: str = "embeddings", k: int = 5,
                    query_filter: str = "1=1") -> str:
    """DuckDB mirror (list_cosine_similarity + row_number)."""
    cos = (
        "list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), "
        "CAST(c.embedding AS DOUBLE[]))"
    )
    return f"""
        WITH scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round({cos}, 6) AS cosine
            FROM {table} q JOIN {table} c ON q.vec_id != c.vec_id
            WHERE {query_filter}
              -- zero-norm guard, mirroring the engine's filters
              AND list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) > 0
              AND list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) > 0
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


# --------------------------------------------------------------------------
# Hyperplane LSH buckets (scale path)
# --------------------------------------------------------------------------

def _planes(dim: int, n_planes: int, table: int = 0) -> np.ndarray:
    rng = np.random.default_rng(_HYPERPLANE_SEED + 7919 * table)
    return rng.standard_normal((n_planes, dim))


# --- shared oracle-builder helpers ----------------------------------------
# Every SQL mirror embeds numpy-derived values as literals; these
# helpers are the single source of truth for the literal formatting,
# the hyperplane/bucket SQL, the hash-prefix sample replica and the
# centroid rows, so the engine and EVERY oracle builder can never
# drift apart on them.

def _vec_literal(vec) -> str:
    """DOUBLE[] literal — repr round-trips float64 exactly."""
    return "[" + ", ".join(repr(float(x)) for x in vec) + "]"


def _planes_sql(dim: int, n_planes: int, n_tables: int) -> str:
    """The seeded hyperplanes of every LSH table as literal rows."""
    rows = []
    for t in range(n_tables):
        planes = _planes(dim, n_planes, t)
        for p in range(n_planes):
            weight = 1 << (n_planes - 1 - p)  # MSB-first, as the kernel
            rows.append(f"SELECT {t} AS tbl, {weight} AS w, "
                        f"CAST({_vec_literal(planes[p])} AS DOUBLE[]) "
                        f"AS plane")
    return " UNION ALL ".join(rows)


def _buckets_sql(table: str, n_planes: int) -> str:
    """The per-(vector, table) bucket CTE body over a ``planes`` CTE:
    bucket id = (table << n_planes) | sign pattern, as the kernel."""
    return f"""
            SELECT e.vec_id, p.tbl,
                   CAST(sum(CASE WHEN list_dot_product(
                            CAST(e.embedding AS DOUBLE[]), p.plane) > 0
                        THEN p.w ELSE 0 END)
                        + p.tbl * {1 << n_planes} AS BIGINT) AS bucket
            FROM {table} e, planes p
            GROUP BY e.vec_id, p.tbl
    """


def _oracle_sample(parquet_path: str, n_train: int,
                   min_rows: int) -> np.ndarray:
    """Bit-identical numpy replica of ``_hash_prefix_sample`` over the
    parquet file (same multiplicative hash, id-ordered head, same
    tiny-corpus fallback)."""
    import pyarrow.parquet as _pq

    full = _pq.read_table(
        parquet_path, columns=["vec_id", "embedding"]).to_pandas()
    ids = full["vec_id"].to_numpy().astype(np.int64)
    h = ((ids % _IVF_SAMPLE_RING) * _IVF_SAMPLE_MULT) % _IVF_SAMPLE_RING
    df = (full[h % _IVF_SAMPLE_MOD == 0]
          .sort_values("vec_id").head(n_train))
    if len(df) < min_rows:
        df = full.sort_values("vec_id").head(n_train)
    return np.array([np.asarray(v, dtype=np.float64)
                     for v in df["embedding"]])


def _cents_sql(cent: np.ndarray) -> str:
    """IVF coarse centroids as literal rows."""
    return " UNION ALL ".join(
        f"SELECT {c} AS cell, CAST({_vec_literal(cent[c])} AS DOUBLE[]) "
        f"AS cv"
        for c in range(len(cent)))


def make_bucket_udf(dim: int, n_planes: int = N_PLANES, n_tables: int = 1):
    """UDF: vector -> array of per-table bucket ids, where bucket id
    encodes (table << n_planes) | sign-pattern. One matmul per batch."""
    all_planes = np.concatenate(
        [_planes(dim, n_planes, t) for t in range(n_tables)], axis=0
    )  # (n_tables * n_planes, dim)
    weights = (1 << np.arange(n_planes))[::-1]

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def lsh_buckets(vec: pd.Series) -> pd.Series:
        if not len(vec):
            # np.array([]) is 1-D: the matmul below would raise
            return pd.Series([], dtype=object)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vec])
        signs = (mat @ all_planes.T) > 0  # (n, n_tables*n_planes)
        signs = signs.reshape(len(vec), n_tables, n_planes)
        codes = (signs * weights).sum(axis=2).astype(np.int32)
        codes |= (np.arange(n_tables, dtype=np.int32) << n_planes)[None, :]
        return pd.Series(list(codes))

    return lsh_buckets


def ann_lsh_sql(table: str = "embeddings", k: int = 5, dim: int = 64,
                n_planes: int = 6, n_tables: int = 8,
                query_filter: str = "q.vec_id < 20") -> str:
    """DuckDB mirror of ``ann_topk_lsh``: the seeded hyperplanes are
    embedded as SQL list literals (repr round-trips float64 exactly),
    bucket codes via ``list_dot_product`` sign patterns, then the same
    candidate-join + exact-cosine + top-k ranking. The ANN result is
    deterministic — 'approximate' refers to recall, not randomness —
    so it value-checks like any other oracle."""
    cos = ("list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), "
           "CAST(c.embedding AS DOUBLE[]))")
    return f"""
        WITH planes AS ({_planes_sql(dim, n_planes, n_tables)}),
        buckets AS ({_buckets_sql(table, n_planes)}),
        cand AS (
            SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
            FROM buckets qb JOIN buckets cb ON qb.bucket = cb.bucket
            WHERE qb.vec_id != cb.vec_id
        ),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id, round({cos}, 6) AS cosine
            FROM cand
            JOIN {table} q ON q.vec_id = cand.query_id
            JOIN {table} c ON c.vec_id = cand.neighbor_id
            WHERE {query_filter}
              -- zero-norm guard, mirroring the engine's filters
              AND list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) > 0
              AND list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) > 0
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    dim: int = 64,
    iters: int = 8,
    sample_per_cell: int = 256,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic IVF codebook: Lloyd k-means on a bounded,
    hash-prefix sample (n_cells * sample_per_cell rows — standard IVF
    practice: the training set is driver-sized regardless of corpus
    scale; only the ASSIGNMENT pass touches all rows). Seeded init
    (k-means++-lite: first k sample rows after a seeded shuffle), empty
    cells re-seeded from the farthest points, so the codebook is a pure
    function of (corpus sample, n_cells, seed)."""
    mat = _hash_prefix_sample(corpus, n_cells * sample_per_cell,
                              n_cells, corpus_id, vec_col)
    if len(mat) and mat.shape[1] != dim:
        raise ValueError(
            f"embedding dim {mat.shape[1]} != declared dim {dim}")
    return kmeans_codebook(mat, n_cells, iters)


def _hash_prefix_sample(corpus: DataFrame, n_train: int, min_rows: int,
                        corpus_id: str, vec_col: str) -> np.ndarray:
    """Deterministic bounded training sample, the SINGLE definition all
    trainers (IVF, PQ, combined) share with the oracle builders: a
    multiplicative hash on the id picks ~1/_IVF_SAMPLE_MOD of the
    corpus BEFORE the ordered limit, so no full-corpus TakeOrdered pass
    runs just to pick n_train rows. The hash stays in 63-bit range
    ((2^32-1) * m < 2^63) and is mirrored bit-for-bit by the numpy
    paths in ``ann_ivf_sql``/``ann_ivfpq_sql``. Falls back to the
    id-ordered corpus head when the sample is thinner than
    ``min_rows`` (tiny corpus), mirrored in the oracle."""
    return _hash_prefix_samples(corpus, [(n_train, min_rows)],
                                corpus_id, vec_col)[0]


def _hash_prefix_samples(corpus: DataFrame, specs,
                         corpus_id: str, vec_col: str) -> list:
    """Multi-take form of :func:`_hash_prefix_sample`: every spec
    ``(n_train, min_rows)`` is an id-ordered head of the SAME filtered
    sample frame, so ONE collect sized ``max(n_train)`` serves them all
    (slices are bit-identical to each spec's standalone collect) — the
    combined IVF+PQ trainer scans the corpus once, not once per
    codebook. The tiny-corpus fallback stays per spec."""
    base = corpus.select(F.col(corpus_id).alias("i"),
                         F.col(vec_col).cast("array<double>").alias("v"))
    h = F.pmod(
        F.pmod(F.col("i").cast("long"), F.lit(_IVF_SAMPLE_RING))
        * F.lit(_IVF_SAMPLE_MULT), F.lit(_IVF_SAMPLE_RING))
    max_n = max(n for n, _m in specs)
    big = (base.filter(F.pmod(h, F.lit(_IVF_SAMPLE_MOD)) == 0)
           .orderBy("i").limit(max_n).collect())
    fallback: list | None = None
    out = []
    for n_train, min_rows in specs:
        rows = big[:n_train]
        if len(rows) < min_rows:
            if fallback is None or len(fallback) < n_train:
                fallback = base.orderBy("i").limit(max_n).collect()
            rows = fallback[:n_train]
        out.append(np.array([r["v"] for r in rows], dtype=np.float64))
    return out


def kmeans_codebook(mat: np.ndarray, n_cells: int,
                    iters: int = 8) -> np.ndarray:
    """The numpy Lloyd core of ``train_ivf_centroids`` — a pure
    function of (sample matrix, n_cells) with seeded init, shared by
    the engine and the DuckDB oracle (``ann_ivf_sql``) so both sides
    derive the identical codebook."""
    if len(mat) == 0:
        raise ValueError(
            "empty training sample: the corpus has no vectors to train "
            "a codebook on")
    # a codebook can never have more cells than training rows (the
    # dead-cell re-seed below would index past the sample otherwise)
    n_cells = min(n_cells, len(mat))
    rng = np.random.default_rng(_HYPERPLANE_SEED)
    perm = rng.permutation(len(mat))
    cent = mat[perm[:n_cells]].copy()
    for _ in range(iters):
        d2 = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        # dead cells re-seed from DISTINCT farthest points: one shared
        # farthest point would leave duplicate centroids (stable argmin
        # ties route every member to the lowest-index copy, so the
        # higher-index cells stay dead forever and nprobe probes them
        # for nothing)
        far = np.argsort(d2.min(axis=1), kind="stable")[::-1]
        next_far = 0
        for c in range(n_cells):
            members = mat[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
            else:
                cent[c] = mat[far[min(next_far, len(far) - 1)]]
                next_far += 1
    return cent


def make_ivf_assign_udf(centroids: np.ndarray, nprobe: int = 1):
    """UDF: vector -> nearest-``nprobe`` centroid ids (one Arrow-batch
    matmul; ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2, row term constant
    under argmin so only x.c and ||c||^2 matter)."""
    cent = np.asarray(centroids, dtype=np.float64)
    cnorm2 = (cent * cent).sum(axis=1)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def ivf_cells(vec: pd.Series) -> pd.Series:
        if not len(vec):
            # np.array([]) is 1-D: the matmul below would raise
            return pd.Series([], dtype=object)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vec])
        d = cnorm2[None, :] - 2.0 * (mat @ cent.T)  # (n, n_cells)
        idx = np.argsort(d, axis=1, kind="stable")[:, :nprobe].astype(
            np.int32)
        return pd.Series(list(idx))

    return ivf_cells


def ann_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: corpus
    vectors land in exactly ONE cell (nearest centroid), queries probe
    their ``nprobe`` nearest cells, scoring runs per cell as an
    equi-join — corpus scanned once, ~nprobe/n_cells of it scored per
    query. Versus LSH: corpus replication factor is 1 (LSH: n_tables)
    and recall tracks the data's cluster structure instead of random
    hyperplanes. Recall dial: nprobe up = recall up, cost linear in
    nprobe. The codebook is a broadcast-sized numpy array baked into
    the assignment UDF (classic broadcast-variable shape)."""
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_cells, dim, corpus_id=corpus_id, vec_col=vec_col)
    assign1 = make_ivf_assign_udf(centroids, nprobe=1)
    assignp = make_ivf_assign_udf(centroids, nprobe=nprobe)
    # norms ride through the join (computed once per VECTOR row, not
    # once per candidate pair — same float results, same expression)
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("cell", F.element_at(assign1(F.col("cvec")), 1)) \
     .withColumn("cnorm", F.sqrt(_dot(F.col("cvec"), F.col("cvec")))) \
     .filter(F.col("cnorm") > 0)  # zero-norm guard, see cosine_topk
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    ).withColumn("qnorm", F.sqrt(_dot(F.col("qvec"), F.col("qvec")))) \
     .filter(F.col("qnorm") > 0) \
     .withColumn("cell", F.explode(assignp(F.col("qvec"))))
    scored = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(_dot(F.col("qvec"), F.col("cvec"))
                    / (F.col("qnorm") * F.col("cnorm")), 6),
        )
    )
    # no dedupe needed: every corpus vector lands in exactly ONE cell
    # (assign1) and the nprobe probe cells are distinct, so a
    # (query, neighbor) pair matches on at most one cell — a
    # dropDuplicates here would shuffle the full candidate set for
    # nothing (the multi-table LSH path DOES need it)
    return _topk_per_query(scored, k)


def ann_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 8,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH: ``n_tables``
    independent sign-hash tables of ``n_planes`` bits; a candidate is
    any corpus vector sharing >=1 table bucket with the query. Bucket
    assignment is one Arrow matmul per side; the probe is an equi-join
    on the encoded (table, bucket) int. Recall/cost dials: tables up =
    recall up (linear probe cost), planes up = buckets smaller = cost
    down / recall down."""
    bucket = make_bucket_udf(dim, n_planes, n_tables)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    ).withColumn("qnorm", F.sqrt(_dot(F.col("qvec"), F.col("qvec")))) \
     .filter(F.col("qnorm") > 0) \
     .withColumn("bucket", F.explode(bucket(F.col("qvec"))))
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("cnorm", F.sqrt(_dot(F.col("cvec"), F.col("cvec")))) \
     .filter(F.col("cnorm") > 0) \
     .withColumn("bucket", F.explode(bucket(F.col("cvec"))))
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(_dot(F.col("qvec"), F.col("cvec"))
                    / (F.col("qnorm") * F.col("cnorm")), 6),
        )
    )
    scored = _ann_dedupe(scored)  # multi-table: pairs repeat per table
    return _topk_per_query(scored, k)


def ann_ivf_sql(parquet_path: str, table: str = "embeddings", k: int = 5,
                n_cells: int = 16, nprobe: int = 4,
                query_filter: str = "vec_id < 20",
                sample_per_cell: int = 256) -> str:
    """DuckDB mirror of ``ann_topk_ivf``: the codebook is re-derived at
    SQL-build time from the SAME deterministic hash-prefix sample the
    engine trains on (read directly from ``parquet_path`` via pyarrow,
    then ``kmeans_codebook`` — bit-identical numpy path), and embedded
    as DOUBLE[] literals exactly like ``ann_lsh_sql`` embeds its
    hyperplanes. Assignment mirrors the kernel's ||x-c||^2 argmin
    (row-constant ||x||^2 dropped; stable tie-break on cell index),
    corpus rows land in their single nearest cell, queries probe
    ``nprobe`` cells, then exact cosine + top-k ranking."""
    mat = _oracle_sample(parquet_path, n_cells * sample_per_cell, n_cells)
    cent = kmeans_codebook(mat, n_cells)
    cos = ("list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), "
           "CAST(c.embedding AS DOUBLE[]))")
    return f"""
        WITH cents AS ({_cents_sql(cent)}),
        cn AS (SELECT cell, cv, list_dot_product(cv, cv) AS n2 FROM cents),
        assigned AS (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY c.n2 - 2 * list_dot_product(
                           CAST(e.embedding AS DOUBLE[]), c.cv),
                           c.cell) AS rk
            FROM {table} e, cn c
        ),
        corpus_cell AS (
            SELECT vec_id AS neighbor_id, cell FROM assigned WHERE rk = 1
        ),
        probe AS (
            SELECT vec_id AS query_id, cell FROM assigned
            WHERE rk <= {nprobe} AND {query_filter}
        ),
        cand AS (
            SELECT DISTINCT p.query_id, cc.neighbor_id
            FROM probe p JOIN corpus_cell cc ON cc.cell = p.cell
            WHERE p.query_id != cc.neighbor_id
        ),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   round({cos}, 6) AS cosine
            FROM cand
            JOIN {table} q ON q.vec_id = cand.query_id
            JOIN {table} c ON c.vec_id = cand.neighbor_id
            -- zero-norm guard, mirroring the engine's filters
            WHERE list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) > 0
              AND list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) > 0
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    kc: int = 16,
    dim: int = 64,
    sample_per_cell: int = 256,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic product-quantization codebooks: the vector space
    splits into ``m`` contiguous subspaces of ``dim/m`` dims; each
    subspace gets its own ``kc``-centroid Lloyd codebook trained on the
    SAME bounded hash-prefix sample IVF training uses (one collect of
    <= kc*sample_per_cell driver-sized rows regardless of corpus
    scale). Returns shape (m, kc, dim/m) — a broadcast-sized array
    baked into the encode/LUT UDFs, re-derivable bit-for-bit by the
    DuckDB-oracle builder."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    mat = _hash_prefix_sample(corpus, kc * sample_per_cell, kc,
                              corpus_id, vec_col)
    return pq_codebooks_from_sample(mat, m, kc)


def pq_codebooks_from_sample(mat: np.ndarray, m: int,
                             kc: int) -> np.ndarray:
    """numpy core shared by the engine and the oracle builder: per-
    subspace :func:`kmeans_codebook` over the sample's subspace
    columns."""
    if mat.shape[1] % m:
        # validated here (the shared core) so the combined-training
        # path in ann_topk_ivfpq can't silently truncate trailing dims
        raise ValueError(f"dim={mat.shape[1]} not divisible by m={m}")
    dsub = mat.shape[1] // m
    return np.stack([
        kmeans_codebook(mat[:, j * dsub:(j + 1) * dsub], kc)
        for j in range(m)
    ])


def make_pq_encode_udf(codebooks: np.ndarray):
    """UDF: vector -> its ``m`` PQ codes (nearest subspace centroid,
    stable tie on code index). One Arrow-batch matmul per subspace —
    the 4^m-way product structure means each vector stores m small
    ints instead of dim floats (the compression that makes a 10^12-row
    corpus index fit: 64 dims x float64 = 512 B -> m=4 bytes)."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, kc, dsub = books.shape
    norms2 = (books * books).sum(axis=2)  # (m, kc)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def pq_codes(vec: pd.Series) -> pd.Series:
        if not len(vec):
            # np.array([]) is 1-D: the 2-D slice below would raise
            return pd.Series([], dtype=object)
        x = np.array([np.asarray(v, dtype=np.float64) for v in vec])
        out = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            sub = x[:, j * dsub:(j + 1) * dsub]
            d = norms2[j][None, :] - 2.0 * (sub @ books[j].T)
            out[:, j] = d.argmin(axis=1)
        return pd.Series(list(out))

    return pq_codes


def make_pq_lut_udf(codebooks: np.ndarray):
    """UDF: query vector -> flat ADC lookup table of m*kc doubles —
    LUT[j*kc + c] = <q_subspace_j, codebook[j][c]>. Built once per
    QUERY row (tiny); candidate scoring then never touches Python: the
    ADC dot is a native element_at/aggregate over (LUT, codes)."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, kc, dsub = books.shape

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def pq_lut(vec: pd.Series) -> pd.Series:
        if not len(vec):
            # np.array([]) is 1-D: the 2-D slice below would raise
            return pd.Series([], dtype=object)
        x = np.array([np.asarray(v, dtype=np.float64) for v in vec])
        luts = np.empty((len(x), m * kc), dtype=np.float64)
        for j in range(m):
            sub = x[:, j * dsub:(j + 1) * dsub]
            luts[:, j * kc:(j + 1) * kc] = sub @ books[j].T
        return pd.Series(list(luts))

    return pq_lut


def ann_topk_ivfpq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 4,
    kc: int = 16,
    dim: int = 64,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k — the index shape that holds at 10^12
    vectors: IVF cells bound which corpus fraction each query scans
    (~nprobe/n_cells, same as :func:`ann_topk_ivf`), and product
    quantization bounds the BYTES scanned — candidates carry m small
    codes, never the raw vector, and scoring is asymmetric-distance
    (ADC): score(q, v) ~= sum_j LUT_q[j][code_j(v)] with the per-query
    LUT built once. The candidate hot path is fully JVM-side (an
    equi-join on cell + a native element_at/aggregate over two small
    arrays inside whole-stage codegen); Arrow runs only per-corpus-row
    encode and per-query LUT build. The approximate cosine divides by
    the PQ-reconstructed norm sqrt(sum_j |c_j|^2) — the standard ADC
    norm estimate. Deterministic end-to-end (seeded codebooks, stable
    argmin/rank ties), so the DuckDB oracle reproduces the exact
    ranking, not just recall."""
    if centroids is None and codebooks is None:
        # the shared sampler (single source of truth with the
        # standalone trainers AND the oracle builder): the sample is
        # id-ordered, so each trainer's bounded head is identical to
        # what its standalone call collects
        spc = 256
        cmat, pmat = _hash_prefix_samples(
            corpus, [(n_cells * spc, n_cells), (kc * spc, kc)],
            corpus_id, vec_col)
        centroids = kmeans_codebook(cmat, n_cells)
        codebooks = pq_codebooks_from_sample(pmat, m, kc)
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_cells, dim, corpus_id=corpus_id, vec_col=vec_col)
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus, m, kc, dim, corpus_id=corpus_id, vec_col=vec_col)
    assign1 = make_ivf_assign_udf(centroids, nprobe=1)
    assignp = make_ivf_assign_udf(centroids, nprobe=nprobe)
    encode = make_pq_encode_udf(codebooks)
    lut = make_pq_lut_udf(codebooks)
    # per-(subspace, code) squared norms — a GLOBAL literal array, the
    # reconstructed-norm half of the ADC score
    books = np.asarray(codebooks, dtype=np.float64)
    n2 = (books * books).sum(axis=2).reshape(-1)  # flat m*kc
    n2_lit = F.array(*[F.lit(float(v)) for v in n2])

    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).filter(_dot(F.col("cvec"), F.col("cvec")) > 0).select(
        # zero-norm guard (see cosine_topk): a zero corpus vector's
        # reconstructed ADC norm can reach 0 -> 0/0 NaN at rank 1
        "neighbor_id",
        F.element_at(assign1(F.col("cvec")), 1).alias("cell"),
        encode(F.col("cvec")).alias("codes"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    ).filter(_dot(F.col("qvec"), F.col("qvec")) > 0).select(
        "query_id",
        F.explode(assignp(F.col("qvec"))).alias("cell"),
        lut(F.col("qvec")).alias("lut"),
        F.sqrt(_dot(F.col("qvec"), F.col("qvec"))).alias("qnorm"),
    )

    def _adc(arr):  # sum_j arr[j*kc + codes[j]] — native, j ascending
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(int(books.shape[0]) - 1)),
                lambda j: F.element_at(
                    arr,
                    (j * F.lit(int(books.shape[1]))
                     + F.element_at(F.col("codes"), j + 1) + 1
                     ).cast("int"))),
            F.lit(0.0), lambda acc, v: acc + v)

    scored = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(_adc(F.col("lut"))
                    / (F.col("qnorm") * F.sqrt(_adc(n2_lit))), 6))
    )
    # no dedupe: one cell per corpus vector + distinct probe cells
    # (see ann_topk_ivf) — a dropDuplicates would shuffle for nothing
    return _topk_per_query(scored, k)


def ann_ivfpq_sql(parquet_path: str, table: str = "embeddings",
                  k: int = 5, n_cells: int = 16, nprobe: int = 4,
                  m: int = 4, kc: int = 16,
                  query_filter: str = "vec_id < 20",
                  sample_per_cell: int = 256) -> str:
    """DuckDB mirror of :func:`ann_topk_ivfpq`: coarse centroids AND
    per-subspace PQ codebooks are re-derived at SQL-build time from the
    same deterministic hash-prefix sample (bit-identical numpy path)
    and embedded as literals. The SQL then reproduces the WHOLE
    approximate pipeline — corpus cell assignment, per-vector PQ codes
    (argmin over literal subspace centroids, stable tie on code),
    nprobe candidate generation, and ADC scoring with the
    PQ-reconstructed norm — so the value oracle checks the exact
    approximate ranking, not merely recall."""
    mat = _oracle_sample(parquet_path, n_cells * sample_per_cell, n_cells)
    cent = kmeans_codebook(mat, n_cells)
    matp = _oracle_sample(parquet_path, kc * sample_per_cell, kc)
    books = pq_codebooks_from_sample(matp, m, kc)
    dsub = books.shape[2]

    prow = []
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        for c in range(kc):
            n2 = repr(float((books[j][c] * books[j][c]).sum()))
            prow.append(
                f"SELECT {j} AS sub, {c} AS code, {lo} AS lo, {hi} AS hi,"
                f" CAST({_vec_literal(books[j][c])} AS DOUBLE[]) AS cv,"
                f" {n2} AS n2")
    pq_sql = " UNION ALL ".join(prow)
    return f"""
        WITH cents AS ({_cents_sql(cent)}),
        cn AS (SELECT cell, cv, list_dot_product(cv, cv) AS n2 FROM cents),
        pqc AS ({pq_sql}),
        assigned AS (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY c.n2 - 2 * list_dot_product(
                           CAST(e.embedding AS DOUBLE[]), c.cv),
                           c.cell) AS rk
            FROM {table} e, cn c
        ),
        corpus_cell AS (
            SELECT vec_id AS neighbor_id, cell FROM assigned WHERE rk = 1
        ),
        probe AS (
            SELECT vec_id AS query_id, cell FROM assigned
            WHERE rk <= {nprobe} AND {query_filter}
        ),
        codes AS (
            SELECT vec_id, sub, code FROM (
                SELECT e.vec_id, p.sub, p.code,
                       row_number() OVER (PARTITION BY e.vec_id, p.sub
                           ORDER BY p.n2 - 2 * list_dot_product(
                               CAST(e.embedding AS DOUBLE[])[p.lo:p.hi],
                               p.cv), p.code) AS rk
                FROM {table} e, pqc p
            ) WHERE rk = 1
        ),
        cand AS (
            SELECT DISTINCT p.query_id, cc.neighbor_id
            FROM probe p JOIN corpus_cell cc ON cc.cell = p.cell
            WHERE p.query_id != cc.neighbor_id
        ),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   round(
                       sum(list_dot_product(
                           CAST(q.embedding AS DOUBLE[])[p.lo:p.hi],
                           p.cv) ORDER BY p.sub)
                       / (any_value(sqrt(list_dot_product(
                              CAST(q.embedding AS DOUBLE[]),
                              CAST(q.embedding AS DOUBLE[]))))
                          * sqrt(sum(p.n2 ORDER BY p.sub))), 6)
                       AS cosine
            FROM cand
            JOIN codes cd ON cd.vec_id = cand.neighbor_id
            JOIN pqc p ON p.sub = cd.sub AND p.code = cd.code
            JOIN {table} q ON q.vec_id = cand.query_id
            JOIN {table} c ON c.vec_id = cand.neighbor_id
            -- zero-norm guard, mirroring the engine's filters
            WHERE list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                   CAST(q.embedding AS DOUBLE[])) > 0
              AND list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                   CAST(c.embedding AS DOUBLE[])) > 0
            GROUP BY cand.query_id, cand.neighbor_id
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


# --------------------------------------------------------------------------
# Embedding-cosine near-dup pairs (exact baseline + the oracle-checked form)
# --------------------------------------------------------------------------

def embedding_cosine_pairs(emb: DataFrame, threshold: float = 0.95,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           max_rows: int | None = 200_000) -> DataFrame:
    """Exact all-pairs cosine >= threshold. Join-on-inequality (id<id)
    — the correctness baseline; the scale path buckets by hyperplane
    LSH first (see ``lsh_cosine_pairs``). Dot/norm stay native
    (zip_with + aggregate = JVM codegen).

    SIZE-GATED: the O(n²) theta join is an oracle anchor, not a path a
    pipeline should reach at scale — above ``max_rows`` input rows it
    raises and points at ``lsh_cosine_pairs`` (bucketed
    candidates + exact refine, same pair semantics). Pass
    ``max_rows=None`` to bypass the gate deliberately."""
    if max_rows is not None:
        n = emb.count()
        if n > max_rows:
            raise ValueError(
                f"embedding_cosine_pairs is the exact O(n^2) baseline "
                f"({n} rows > max_rows={max_rows}); use "
                f"similarity.lsh_cosine_pairs for the bucketed scale "
                f"path, or pass max_rows=None to force the all-pairs "
                f"join.")
    v = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).withColumn("norm", F.sqrt(_dot(F.col("vec"), F.col("vec"))))
    # zero-norm guard: cosine would be 0/0 = NaN, and Spark's ordering
    # semantics treat NaN as GREATER than any double — one all-zero
    # embedding (a failed embed call) would otherwise pair with every
    # row and collapse the corpus into one near-dup cluster
    v = v.filter(F.col("norm") > 0)
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"),
            F.round(
                _dot(F.col("a.vec"), F.col("b.vec"))
                / (F.col("a.norm") * F.col("b.norm")), 6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_cosine_sql(table: str = "embeddings",
                         threshold: float = 0.95) -> str:
    """Mirror of ``embedding_cosine_pairs``: same zero-norm exclusion,
    and the threshold tests the ROUNDED cosine exactly as the engine
    filters its round(..., 6) column."""
    cos = (
        "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
        "CAST(b.embedding AS DOUBLE[]))"
    )
    def norm2(side: str) -> str:
        return (f"list_dot_product(CAST({side}.embedding AS DOUBLE[]), "
                f"CAST({side}.embedding AS DOUBLE[]))")
    return f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({cos}, 6) AS cosine
        FROM {table} a JOIN {table} b ON a.vec_id < b.vec_id
        WHERE {norm2('a')} > 0 AND {norm2('b')} > 0
          AND round({cos}, 6) >= {threshold}
    """


def lsh_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup PAIRS via hyperplane-LSH bucketing — the
    scale path that replaces ``embedding_cosine_pairs``' exact
    all-pairs baseline: candidates are pairs sharing >= 1 of the
    ``n_tables`` sign-hash buckets (equi-join shaped, skew-safe under
    AQE), exact cosine runs only on candidates. Recall is governed by
    the standard (1 - (1 - s^p)^t) LSH curve; at threshold 0.9+ the
    default 6x8 configuration is effectively exhaustive. Deterministic
    (seeded hyperplanes), so it value-checks against its SQL mirror.

    Plan shape (candidate-then-gather): the Arrow bucket UDF runs ONCE
    into a pinned (vid, bucket) frame partitioned by bucket — the
    bucket self-join reads the cached layout exchange-free (eager
    materialization) and shuffles only
    id+bucket rows, never vectors. Candidate pairs dedupe narrow, and
    the two vector gathers join by id afterwards. The previous
    formulation ran the UDF once PER JOIN SIDE and carried both full
    vectors through the bucket join and the pair-dedup shuffle —
    corpus x tables x vec_bytes of shuffle where ids suffice. At
    sandbox scale (1k vectors, sf0.01) the added jobs cost ~1 s of
    per-query constant (warm 1.0 -> 2.3 s measured); the trade is the
    shuffle-byte cut (~vec_bytes/bucket_row_bytes, ~16x for 64-dim
    doubles) on the corpus-x-tables frame, which dominates at real
    corpus sizes."""
    from pyrosm_spark.operators.spatial_join import _pin_fresh

    bucket = make_bucket_udf(dim, n_planes, n_tables)
    b = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    # zero-norm guard (mirrors embedding_cosine_pairs): a zero
    # vector's cosine is 0/0 = NaN, which Spark orders ABOVE every
    # double, so it would pass any >= threshold filter and pair with
    # its whole bucket
    b = b.filter(_dot(F.col("vec"), F.col("vec")) > 0)
    nshuf = int(emb.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"))
    bk = (b.withColumn("bucket", F.explode(bucket(F.col("vec"))))
          .select("vid", "bucket"))
    bk = _pin_fresh("emb_lsh_buckets", bk.repartition(nshuf, "bucket"))
    bk.count()
    a, c = bk.alias("a"), bk.alias("b")
    cand = (
        a.join(c, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vid") < F.col("b.vid")))
        .select(F.col("a.vid").alias("vid_a"),
                F.col("b.vid").alias("vid_b"))
        .dropDuplicates(["vid_a", "vid_b"])
    )
    va = b.select(F.col("vid").alias("vid_a"), F.col("vec").alias("vec_a"))
    vb = b.select(F.col("vid").alias("vid_b"), F.col("vec").alias("vec_b"))
    scored = cand.join(va, "vid_a").join(vb, "vid_b").withColumn(
        "cosine",
        F.round(
            _dot(F.col("vec_a"), F.col("vec_b"))
            / (F.sqrt(_dot(F.col("vec_a"), F.col("vec_a")))
               * F.sqrt(_dot(F.col("vec_b"), F.col("vec_b")))), 6),
    )
    return (
        scored.filter(F.col("cosine") >= threshold)
        .select(F.col("vid_a").alias("vec_a"),
                F.col("vid_b").alias("vec_b"), "cosine")
    )


def lsh_cosine_pairs_sql(table: str = "embeddings",
                         threshold: float = 0.9, dim: int = 64,
                         n_planes: int = 6, n_tables: int = 8) -> str:
    """DuckDB mirror of ``lsh_cosine_pairs`` (same embedded-hyperplane
    pattern as ``ann_lsh_sql``)."""
    cos = ("list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), "
           "CAST(y.embedding AS DOUBLE[]))")
    return f"""
        WITH planes AS ({_planes_sql(dim, n_planes, n_tables)}),
        buckets AS ({_buckets_sql(table, n_planes)}),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM buckets a JOIN buckets b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT c.vec_a, c.vec_b, round({cos}, 6) AS cosine
        FROM cand c
        JOIN {table} x ON x.vec_id = c.vec_a
        JOIN {table} y ON y.vec_id = c.vec_b
        WHERE list_dot_product(CAST(x.embedding AS DOUBLE[]),
                               CAST(x.embedding AS DOUBLE[])) > 0
          AND list_dot_product(CAST(y.embedding AS DOUBLE[]),
                               CAST(y.embedding AS DOUBLE[])) > 0
          AND round({cos}, 6) >= {threshold}
    """
