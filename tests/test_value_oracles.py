"""Every paper query against its DuckDB value oracle.

The oracles compute the expected rows from the committed parquet
without the engine (see ``tests/paper_queries.py``), so they anchor
values independently of it.
"""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.paper_queries import (
    QUERIES,
    REF_HELSINKI_PBF,
    World,
    assert_matches,
    oracle_sql,
)

ORACLES = oracle_sql()


@pytest.fixture(scope="module")
def world(spark, synth_dir, tmp_path_factory):
    from pyrosm_spark.operators.spatial_join import release_pinned_caches

    w = World(spark, str(tmp_path_factory.mktemp("paper_queries")))
    yield w
    w.close()
    release_pinned_caches()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_duckdb_oracle(name, world, duck):
    if (name == "buildings_relations_helsinki"
            and not os.path.exists(REF_HELSINKI_PBF)):
        pytest.skip("reference Helsinki fixture absent")
    assert_matches(QUERIES[name](world), duck, ORACLES[name])


def test_compare_detects_value_row_and_schema_divergence(world, duck):
    """A perturbed engine result must fail the compare, so a green
    oracle test is not vacuous: one changed value, one dropped row
    and one renamed column each fail."""
    good = QUERIES["buildings_ways"](world)
    sql = ORACLES["buildings_ways"]
    assert_matches(good, duck, sql)
    first = good.agg(F.min("id")).first()[0]
    perturbed = {
        "value": good.withColumn(
            "n_pts", F.when(F.col("id") == first, F.col("n_pts") + 1)
            .otherwise(F.col("n_pts"))),
        "row": good.filter(F.col("id") != first),
        "schema": good.withColumnRenamed("building", "buildng"),
    }
    for kind, bad in perturbed.items():
        with pytest.raises(AssertionError):
            assert_matches(bad, duck, sql)
            pytest.fail(f"{kind} perturbation passed the compare")
