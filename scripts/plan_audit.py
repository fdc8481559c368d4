"""Physical-plan audit: verify the plans are the ones we want.

Runs under the engine's own session conf (``get_spark``, AQE on) and
audits the FINAL adaptive plan of each query: every audited query runs
once, at the committed synthetic world's size, before its plan is read.

Checks, per key query:
* parquet scans carry PushedFilters / pruned ReadSchema where expected
* small dimension sides broadcast (BroadcastHashJoin)
* Python only where intended (ArrowEvalPython / MapInPandas nodes are
  counted; pure-SQL queries must have zero)
* WholeStageCodegen spans exist

Prints one line per check; exits non-zero on violations.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pyrosm_spark.session import get_spark  # noqa: E402
from tests.paper_queries import QUERIES, SYNTH_DIR, World  # noqa: E402

FAILS = []


def check(name, cond, detail=""):
    status = "OK  " if cond else "FAIL"
    print(f"{status} {name} {detail}")
    if not cond:
        FAILS.append(name)


def plan_of(df) -> str:
    """Run ``df`` and return its final adaptive plan (the ``Final
    Plan`` section; the whole plan when AQE did not wrap it)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1]
        plan = plan.split("== Initial Plan ==", 1)[0]
    return plan


def path_to_join(plan: str, scan_substr: str) -> list:
    """Operators from the scan whose line holds ``scan_substr`` up to and
    including its nearest join ancestor, bottom-up, with tree prefixes
    and codegen stage ids stripped."""
    def depth(line):
        return len(line) - len(line.lstrip(" :|+-"))

    def op(line):
        return line.lstrip(" :|+-*(0123456789) ")

    lines = plan.splitlines()
    i = next(k for k, ln in enumerate(lines) if scan_substr in ln)
    path, d = [op(lines[i])], depth(lines[i])
    for ln in reversed(lines[:i]):
        if depth(ln) < d:
            d = depth(ln)
            path.append(op(ln))
            if "Join" in ln:
                break
    return path


def main():
    spark = get_spark("plan_audit")
    world = World(spark, tempfile.mkdtemp(prefix="plan_audit_"))

    # 1. pure-SQL queries: zero Python nodes, codegen present
    for name in ("network_driving_edges", "tile_assignment", "tile_counts",
                 "pip_bbox_join", "knn_images_pois"):
        p = plan_of(QUERIES[name](world))
        check(f"{name}: no Python in plan",
              "ArrowEvalPython" not in p and "MapInPandas" not in p
              and "BatchEvalPython" not in p)
        check(f"{name}: whole-stage codegen", "*(" in p)

    # 2. scan pruning: engine loader projects only engine columns
    from pyrosm_spark.operators.osm_source import load_osm
    nodes, ways, _ = load_osm(spark, SYNTH_DIR)
    p = plan_of(nodes.select("id", "lon", "lat"))
    check("node scan: ReadSchema pruned to selected columns",
          "amenity" not in p.split("ReadSchema")[-1][:400])

    # 3. filter pushdown reaches the parquet scan
    filt = nodes.filter(F.col("lon").between(24.7, 25.0))
    p = plan_of(filt)
    check("bbox filter: PushedFilters on lon",
          "PushedFilters" in p and "lon" in p.split("PushedFilters")[-1][:200],
          )

    # 5. PIP join: the refine is NATIVE (exists/aggregate ray cast in
    # codegen) — no per-candidate Python; the only polygon-side Arrow
    # step is the once-per-polygon segment decode. Join is hash join.
    j = QUERIES["pip_exact_join"](world)
    p = plan_of(j)
    check("pip_exact: no per-candidate Python refine",
          "point_in_wkb_polygon" not in p,
          f"(arrow nodes total: {p.count('ArrowEvalPython')})")
    check("pip_exact: native ray-cast refine present",
          "exists" in p and "aggregate" in p)
    check("pip_exact: one polygon-side segment decode",
          p.count("wkb_segment_sets") == 1)
    check("pip_exact: hash join for cell equi-join",
          "HashJoin" in p)

    # 5b. raster-tile <-> polygon join: same native-refine discipline
    # as PIP — the only Arrow node is the once-per-polygon segment
    # decode; the edge/corner/containment test stays in codegen
    j = QUERIES["raster_polygon_join"](world)
    p = plan_of(j)
    check("raster_polygon: no per-candidate Python refine",
          "point_in_wkb_polygon" not in p,
          f"(arrow nodes total: {p.count('ArrowEvalPython')})")
    check("raster_polygon: one polygon-side segment decode",
          p.count("wkb_segment_sets") == 1)
    check("raster_polygon: hash join for cell equi-join",
          "HashJoin" in p)

    # 5c. Z-order layout: the bbox scan's Morton ranges reach the
    # parquet reader as pushed int64 filters (row-group stats pruning)
    # and the plan holds zero Python nodes
    p = plan_of(QUERIES["zorder_pruned_scan"](world))
    check("zorder scan: Morton ranges in PushedFilters",
          "PushedFilters" in p and "_zkey" in p.split("PushedFilters")[-1][:400])
    check("zorder scan: no Python in plan",
          "ArrowEvalPython" not in p and "MapInPandas" not in p)

    # 6. relation assembly: a metadata-sized member set is broadcast so
    # the big way/node tables never shuffle for it. Two regimes: tables
    # estimated within the broadcast threshold (the planner broadcasts
    # from static sizes, no probe job) and tables over it, as a planet's
    # are (a count probe, then explicit broadcasts). A threshold of 1 KB
    # puts the synthetic tables in the second regime.
    from pyrosm_spark.functions.filters import element_filter_column
    from pyrosm_spark.operators.relations import assemble_relations
    _, w2, r2 = load_osm(spark, SYNTH_DIR)
    pred = element_filter_column(F.col("tags"), {"building": True})
    key = "spark.sql.autoBroadcastJoinThreshold"
    default_threshold = spark.conf.get(key)
    for regime, threshold in (("within threshold", default_threshold),
                              ("over threshold", "1024")):
        spark.conf.set(key, threshold)
        try:
            p = plan_of(assemble_relations(r2.filter(pred), w2, nodes)
                        .select("id", "geometry"))
        finally:
            spark.conf.set(key, default_threshold)
        for table in ("osm_ways", "osm_nodes"):
            path = path_to_join(p, table)
            check(f"assemble_relations ({regime}): {table} scan reaches "
                  "a broadcast join with no shuffle",
                  path[-1].startswith("BroadcastHashJoin")
                  and not [op for op in path if op.startswith("Exchange")],
                  "" if path[-1].startswith("BroadcastHashJoin")
                  else f"{path[1:]}")

    world.close()
    shutil.rmtree(world.scratch, ignore_errors=True)
    print(f"\n{'ALL OK' if not FAILS else f'{len(FAILS)} FAILURES: {FAILS}'}")
    sys.exit(1 if FAILS else 0)


if __name__ == "__main__":
    main()
