import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyrosm_spark.session import get_spark
from pyrosm_spark.synth import ensure_images_table, ensure_osm_tables

SYNTH_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", "synth"
)


@pytest.fixture(scope="session")
def spark():
    # One local JVM runs the driver and the executors; the suite fits in
    # 4 GB, so a run leaves room for a second Spark process on the host.
    # An explicit SPARK_DRIVER_MEM still wins.
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    s = get_spark("pyrosm_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def synth_dir():
    ensure_osm_tables(SYNTH_DIR, grid=16, seed=42)
    ensure_images_table(
        os.path.join(SYNTH_DIR, "images.parquet"), n_rows=2000, seed=42
    )
    return SYNTH_DIR
