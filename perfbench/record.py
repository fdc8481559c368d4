"""``run.py --record``: rewrite expected.json from the current program.

Runs every op on every input a seed can pick and stores its answer.
Before writing, it checks the spatial ops against the numpy oracles in
``oracle.py`` (tile histograms, point-in-polygon pairs, kNN
neighbours); any disagreement aborts the recording.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import inputs
import oracle
from workloads import (
    KNN_EVERY,
    OsmLayers,
    TileStream,
    polygons_of,
    read_batch,
)


def check_pip(spark, batch, polygons) -> None:
    from pyrosm_spark.operators.spatial_join import point_in_polygon_join

    got = {(r[0], int(r[1]), r[2]) for r in point_in_polygon_join(
        batch, polygons, res=17).select(
            "image_id", "poly_id", "poly_osm_type").collect()}
    pts = batch.toPandas()
    want = oracle.pip_pairs(pts["image_id"], pts["lon"], pts["lat"],
                            [tuple(r) for r in polygons.collect()])
    if got != want:
        raise AssertionError(
            f"PIP differs from the ray-cast oracle: {len(got - want)} "
            f"extra, {len(want - got)} missing of {len(want)}")


def check_knn(spark, w: TileStream, batch) -> None:
    from pyrosm_spark.operators.spatial_join import knn_join

    sample = batch.filter(
        batch.image_id.substr(4, 9).cast("long") % KNN_EVERY == 0)
    got: dict = {}
    for r in knn_join(sample, w.pois, k=3, res=14, ring=1,
                      point_id_col="image_id").orderBy(
                          "image_id", "knn_rank").collect():
        got.setdefault(r["image_id"], []).append(int(r["neighbor_id"]))
    pts = sample.toPandas()
    pois = w.pois.toPandas()
    want = oracle.knn(pts["image_id"], pts["lon"], pts["lat"], pois["id"],
                      pois["lon"], pois["lat"], 3, res=14, ring=1)
    bad = [p for p in set(want) | set(got) if got.get(p) != want.get(p)]
    if bad:
        raise AssertionError(
            f"kNN differs from brute force for {len(bad)} of {len(want)} "
            f"points, e.g. {bad[0]}: {got.get(bad[0])} vs {want.get(bad[0])}")


def record(spark) -> dict:
    out: dict = {}

    def put(name: str, ops) -> dict:
        got = {f"{name}/{key}": fn() for key, fn in ops}
        # tile histograms are not stored: run.py recomputes them with
        # the numpy tile formula for the batches it streams
        out.update((k, v) for k, v in got.items() if "/tiles/" not in k)
        print(f"recorded {sorted(got)}", file=sys.stderr, flush=True)
        return got

    w = TileStream(spark, {"batches": [0]})
    w.setup()
    for b in range(inputs.POOL_BATCHES):
        w.batches = [b]
        batch = read_batch(spark, b)
        got = put(w.name, w.ops(0))
        pts = batch.toPandas()
        hist = oracle.tile_histogram(pts["lon"], pts["lat"], 15)
        if got[f"tile_stream/tiles/b{b}"] != {str(c): n
                                             for c, n in hist.items()}:
            raise AssertionError(f"tile histogram of batch {b} differs "
                                 "from the numpy tile formula")
        check_pip(spark, batch, w.polygons)
        check_knn(spark, w, batch)

    o = OsmLayers(spark, {"sample_batch": 0})
    for s in range(inputs.POOL_BATCHES):
        o.sample_batch = s
        o.setup()
        put(o.name, o.ops(0))
        check_pip(spark, o.sample, polygons_of(o.osm.get_buildings()))
    return out


def main(args) -> int:
    from run import start_session, stop_spark
    from procstat import ProcessTree

    tmp = inputs.scratch_dir()
    os.makedirs(tmp, exist_ok=True)
    inputs.ensure_tables()
    tree = ProcessTree()
    spark = start_session(args, tmp)
    try:
        out = record(spark)
    finally:
        stop_spark(spark, tree)
        shutil.rmtree(tmp, ignore_errors=True)
    path = os.path.join(inputs.HERE, "expected.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(out)} answers to {path}", file=sys.stderr)
    return 0
