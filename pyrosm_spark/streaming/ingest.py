"""Structured Streaming ingestion paths.

The reference is batch-only (SURVEY.md §2.10); its decode->spill->
collect pipeline is a one-shot map/shuffle/reduce and its result cache
plays the incremental role. Streaming here is therefore an *extension*:
the same tile-assignment, cell-count and point-in-polygon operators
applied to an unbounded source (file stream locally; Kafka on a real
cluster) — useful for continuous image ingest feeding the tiling layer.

Every transformation below reuses the exact batch Column expressions
(tiles.cell_id, the batch PIP join), so batch/stream parity is by
construction, and each is covered by a memory-sink test that compares
against the batch run of the same input.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyrosm_spark.functions import tiles

# unique pin tag per streaming_pip_join call (see its docstring)
_STREAM_PIP_SEQ = itertools.count()

IMAGES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("caption", T.StringType()),
    T.StructField("phash", T.LongType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("lat", T.DoubleType()),
])


def _file_stream(spark, schema, path: str, max_files_per_trigger: int):
    import hashlib
    import os
    import shutil
    import tempfile

    if os.path.isfile(path):
        # FileStreamSource requires a DIRECTORY source (it re-passes the
        # load path as the batch reader's basePath) — stage single files
        # into a content-addressed temp dir once.
        st = os.stat(path)
        key = hashlib.sha1(
            f"{path}:{st.st_mtime_ns}:{st.st_size}".encode()).hexdigest()[:12]
        stage_dir = os.path.join(tempfile.gettempdir(),
                                 f"pyrosm_spark_stream_{key}")
        dst = os.path.join(stage_dir, os.path.basename(path))
        if not os.path.exists(dst):
            os.makedirs(stage_dir, exist_ok=True)
            # per-process temp name + atomic replace: a shared ".tmp"
            # would let two concurrent stagers interleave writes and
            # rename a corrupt file into the content-addressed dir.
            # The "." prefix keeps the temp file INVISIBLE to Spark's
            # file listing — with the default "tmp" prefix a stager
            # killed between mkstemp and cleanup (or caught mid-copy by
            # a live stream's trigger) leaves a non-parquet file that
            # FileStreamSource would list and choke on forever
            fd, tmp = tempfile.mkstemp(dir=stage_dir, prefix=".stage.",
                                       suffix=".tmp")
            os.close(fd)
            try:
                shutil.copy2(path, tmp)
                os.replace(tmp, dst)
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)
        path = stage_dir
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def read_images_stream(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 4) -> DataFrame:
    return _file_stream(spark, IMAGES_SCHEMA, path, max_files_per_trigger)


def streaming_tile_assignment(images: DataFrame, res: int = 15) -> DataFrame:
    """Stateless per-row tile assignment — identical Column expr as the
    batch path (spatial_join.assign_tiles), so a streaming ingest keyed
    by cell can feed a cell-partitioned sink directly."""
    return images.select(
        "image_id",
        tiles.cell_id(F.col("lon"), F.col("lat"), res).alias("cell"),
    )


def stateful_cell_counts(images: DataFrame, res: int = 12) -> DataFrame:
    """Custom stateful streaming operator: per-cell RUNNING image and
    payload-byte totals across micro-batches via
    ``applyInPandasWithState`` (the engine's example of state beyond
    built-in windowed aggs). Each batch emits the cell's updated
    cumulative row — an incrementally-maintained cell histogram, i.e.
    the streaming form of ``spatial_join.cell_histogram`` that feeds
    skew decisions on a live ingest."""
    import pandas as pd

    assigned = images.select(
        "image_id",
        F.when(F.col("bytes").isNotNull(),
               F.length("bytes")).otherwise(0).alias("nbytes"),
        tiles.cell_id(F.col("lon"), F.col("lat"), res).alias("cell"),
    )

    def update(key, pdfs, state):
        n, b = state.get() if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            b += int(pdf["nbytes"].sum())
        state.update((n, b))
        yield pd.DataFrame({"cell": [key[0]], "n_images": [n],
                            "total_bytes": [b]})

    return assigned.groupBy("cell").applyInPandasWithState(
        update,
        outputStructType="cell long, n_images long, total_bytes long",
        stateStructType="n long, b long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def run_to_memory(stream_df: DataFrame, name: str,
                  output_mode: str = "complete"):
    """Drive a streaming query to completion over the currently-present
    files (test/dev harness): memory sink + processAllAvailable."""
    q = (
        stream_df.writeStream.format("memory").queryName(name)
        .outputMode(output_mode).start()
    )
    try:
        q.processAllAvailable()
    finally:
        # a poison micro-batch must not leave the query registered
        # (the name would collide on the next run) and holding resources
        q.stop()
    return q


def streaming_pip_join(images: DataFrame, polygons,
                       res: int = 15, **kw) -> DataFrame:
    """Stream-static point-in-polygon join: a STREAMING image/point
    source against a STATIC (batch) polygon frame — the standard
    Structured Streaming enrichment shape (stream-static joins are
    stateless: each micro-batch equi-joins the static side, which
    Spark broadcasts when small). Reuses the exact batch operator, so
    stream results equal the batch join on the same input by
    construction — that equality is the test.

    The static side's expensive preparation (WKB bbox + segment-set
    Arrow decode) is computed HERE and persisted: stream-static joins
    re-evaluate the static subtree on EVERY micro-batch, so leaving the
    decode inside the per-batch plan would re-run the only Python step
    once per trigger instead of once per stream. Extra keyword dials
    (``broadcast_polygons``, ``refine``, ``lon_col``/``lat_col``,
    ``point_salt``) forward to :func:`point_in_polygon_join`;
    ``how='left'`` is rejected — its anti-join arm cannot execute on an
    unbounded stream.

    At scale the static polygon cover is the broadcast dimension
    (cells x features), the stream is the fact side; no state store,
    no watermark needed.

    Pin lifecycle: each call pins its OWN prepared polygon frame under
    a unique tag and never releases earlier calls' pins — a previous
    call's streaming query may still be running, and unpersisting its
    static side would silently re-run the per-polygon Arrow decode on
    every subsequent micro-batch for the rest of that query's life.
    After stopping the queries, hand the storage memory back with
    :func:`pyrosm_spark.operators.spatial_join.release_pinned_caches`.
    """
    from pyrosm_spark.operators.spatial_join import (
        _pin,
        _with_bbox,
        point_in_polygon_join,
        wkb_segment_sets,
    )

    if kw.get("how", "inner") != "inner":
        raise ValueError("streaming_pip_join supports how='inner' only "
                         "(the left arm's anti-join cannot run on an "
                         "unbounded stream)")
    if kw.get("refine", "native") == "native" \
            and "_segsets" not in polygons.columns:
        polygons = polygons.withColumn(
            "_segsets", wkb_segment_sets(F.col("geometry")))
    polygons = _with_bbox(polygons, "geometry")
    polygons = _pin(f"stream_pip#{next(_STREAM_PIP_SEQ)}", polygons)
    return point_in_polygon_join(images, polygons, res=res, **kw)
