"""pyrosm_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch rebuild of the query capabilities of pyrosm/pyrosm
(OSM PBF -> GeoDataFrame reader) as a distributed Spark engine:

* node->way->relation topology built as shuffle joins over parquet/Iceberg
  tables (``operators.network``, ``operators.layers``, ``operators.relations``)
* a filter compiler that lowers pyrosm's custom_filter forms (dict /
  regex-dict / Overpass bracket strings) into Catalyst ``Column`` predicates
  (``functions.filters``)
* vectorized tile encoding (hierarchical quad cells), point-in-polygon and
  cell-local kNN spatial joins with explicit skew handling
  (``functions.tiles``, ``operators.spatial_join``)
* image-payload plumbing (decode / phash / PSNR) as Arrow-batched pandas
  UDFs (``functions.image_np``, ``operators.multimodal``)
* training-data pipeline ops: dedup (exact / minhash-LSH / simhash /
  ngram-jaccard / embedding-cosine), ANN similarity search, text analysis
  (``operators.dedup``, ``operators.similarity``, ``operators.text``)
* checkpoint / lineage manifests for resumable multi-stage jobs
  (``plans.checkpoint``)

Reference semantics are cited per-function as ``file:line`` into
``/root/reference`` (pyrosm v0.11.x). No code is copied from the
reference; the execution model is Spark DataFrames + Catalyst, not a
port of its Cython engine.
"""

__version__ = "0.1.0"

import os
import sys
import zipimport

from pyspark import SparkFiles

_eager_zip_invalidate = zipimport.zipimporter.invalidate_caches
_zip_stamps: dict = {}


def _lazy_zip_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads an archive's
    directory only when the archive's size or mtime changed since this
    process last read it, as CPython 3.13 does lazily.

    A pyspark Python worker calls ``importlib.invalidate_caches()`` at
    the start of every task. On Python < 3.13 every zipimporter then
    re-reads its archive's whole directory: 16 importers over the
    3.5 MB ``pyspark.zip``, which made the task itself cost more worker
    CPU than the UDF rows it ran."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if (stamp is not None and cached is not None
            and _zip_stamps.get(self.archive) == stamp):
        self._files = cached
        return
    _eager_zip_invalidate(self)
    _zip_stamps[self.archive] = stamp


# Installed only inside Spark Python workers, when a worker first
# imports this package to run one of its UDFs; the driver's imports are
# left alone. A ``--py-files`` archive that is replaced on disk is
# still re-read, because its size or mtime changes.
if sys.version_info < (3, 13) and SparkFiles._is_running_on_worker:
    zipimport.zipimporter.invalidate_caches = _lazy_zip_invalidate

from pyrosm_spark.api import OSM  # noqa: E402,F401
from pyrosm_spark.session import get_spark  # noqa: E402,F401
