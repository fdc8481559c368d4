"""Physical-plan audit: verify the plans are the ones we want.

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
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as em  # noqa: E402
from pyrosm_spark.session import get_spark  # noqa: E402

FAILS = []


def check(name, cond, detail=""):
    status = "OK  " if cond else "FAIL"
    print(f"{status} {name} {detail}")
    if not cond:
        FAILS.append(name)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


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


def simple_plan(df) -> str:
    return df._jdf.queryExecution().simpleString()


def main():
    # AQE wraps plans in AdaptiveSparkPlan whose string hides codegen
    # markers — disable it for the AUDIT session only (engine sessions
    # keep AQE on), and tell the entry's defensive _tuned wrapper to
    # leave this session's conf alone.
    os.environ["SPARK_GRAFT_NO_TUNE"] = "1"
    spark = get_spark("plan_audit", master="local[8]", shuffle_partitions=16,
                      extra_conf={"spark.sql.adaptive.enabled": "false"})
    sf = "/root/testdata/sf0.01"
    qs = em.queries()

    # 1. pure-SQL queries: zero Python nodes, codegen present
    for name in ("network_driving_edges", "tile_assignment", "tile_counts",
                 "tpch_q1_pricing", "events_hourly", "minhash_signatures",
                 "exact_dedup", "pip_bbox_join", "knn_images_pois"):
        df = qs[name](spark, sf)
        p = plan_of(df)
        check(f"{name}: no Python in plan",
              "ArrowEvalPython" not in p and "MapInPandas" not in p
              and "BatchEvalPython" not in p)
        # with AQE the executed-plan string shows codegen stages as "*(n)"
        check(f"{name}: whole-stage codegen", "*(" in p or "WholeStageCodegen" in p)

    # 2. scan pruning: engine loader projects only engine columns
    from pyrosm_spark.operators.osm_source import load_osm
    nodes, ways, _ = load_osm(spark, em.SYNTH_DIR)
    p = plan_of(nodes.select("id", "lon", "lat"))
    check("node scan: ReadSchema pruned to selected columns",
          "amenity" not in p.split("ReadSchema")[-1][:400])

    # 3. filter pushdown reaches the parquet scan
    filt = nodes.filter(F.col("lon").between(24.7, 25.0))
    p = plan_of(filt)
    check("bbox filter: PushedFilters on lon",
          "PushedFilters" in p and "lon" in p.split("PushedFilters")[-1][:200],
          )

    # 4. broadcast: revenue_by_nation must broadcast nation
    p = plan_of(qs["revenue_by_nation"](spark, sf))
    check("revenue_by_nation: BroadcastHashJoin", "BroadcastHashJoin" in p)

    # 5. PIP join: the refine is NATIVE (exists/aggregate ray cast in
    # codegen) — no per-candidate Python; the only polygon-side Arrow
    # step is the once-per-polygon segment decode. Join is hash join.
    j = qs["pip_exact_join"](spark, sf)
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
    j = qs["raster_polygon_join"](spark, sf)
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
    p = plan_of(qs["zorder_pruned_scan"](spark, sf))
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
    _, w2, r2 = load_osm(spark, em.SYNTH_DIR)
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

    # 7. df-capped ngram join: the hot-shingle exclusion is a
    # broadcast anti-join (no shuffle of the shingle stream for it)
    from pyrosm_spark.operators.dedup import ngram_jaccard_pairs
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    p = plan_of(ngram_jaccard_pairs(docs, threshold=0.2))
    check("ngram df cap: hot-shingle anti-join is broadcast",
          "BroadcastHashJoin" in p and "LeftAnti" in p)

    # 8. banded self-joins (dedup candidate generators): the two sides
    # are the same corpus-sized table — must be ShuffledHashJoin, never
    # a broadcast build (driver OOM at scale, single-threaded build)
    from pyrosm_spark.operators.dedup import phash_pairs
    img_df = spark.read.parquet(os.path.join(em.SYNTH_DIR,
                                             "images.parquet"))
    p = plan_of(phash_pairs(img_df, n_blocks=8, strategy="join"))
    check("phash_pairs(join): self-join is ShuffledHashJoin",
          "ShuffledHashJoin" in p)
    p = plan_of(phash_pairs(img_df, n_blocks=8, strategy="grouped"))
    check("phash_pairs(grouped): bucket eval via grouped Arrow, "
          "no join of candidates",
          "FlatMapGroupsInPandas" in p and "NestedLoop" not in p)

    # 9. pinned-layout exchange elision (r5): eagerly materialized
    # pins partitioned on the downstream keys must be RECOGNIZED —
    # EnsureRequirements re-adding an exchange on those keys means the
    # layout regressed to decoration. Count ENSURE_REQUIREMENTS
    # exchanges (REPARTITION_BY_* lines are the deliberate layout
    # writes, not violations).
    def ensure_exchanges(plan: str, key_substr: str | None = None):
        return [ln for ln in plan.splitlines()
                if "Exchange" in ln and "ENSURE_REQUIREMENTS" in ln
                and (key_substr is None or key_substr in ln)]

    from pyrosm_spark.operators.dedup import (minhash_lsh_pairs,
                                              simhash_pairs)
    from pyrosm_spark.operators.similarity import lsh_cosine_pairs

    p = plan_of(simhash_pairs(docs, max_hamming=8))
    check("simhash (unblocked banded join): zero ENSURE exchanges",
          len(ensure_exchanges(p)) == 0,
          f"(found {len(ensure_exchanges(p))})")
    p = plan_of(minhash_lsh_pairs(docs, n_blocks=4))
    check("minhash (const-blocked banded join): probe side rides the "
          "pinned layout (exactly one ENSURE exchange, the replicated "
          "build side)",
          len(ensure_exchanges(p)) == 1,
          f"(found {len(ensure_exchanges(p))})")
    p = plan_of(ngram_jaccard_pairs(docs, threshold=0.2))
    check("ngram inverted index: no ENSURE exchange on the shingle key",
          len(ensure_exchanges(p, "shingle")) == 0)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    p = plan_of(lsh_cosine_pairs(emb, threshold=0.35))
    check("embedding LSH: bucket self-join exchange-free and "
          "vector-free (vectors gathered by id afterwards)",
          len(ensure_exchanges(p, "bucket")) == 0)

    print(f"\n{'ALL OK' if not FAILS else f'{len(FAILS)} FAILURES: {FAILS}'}")
    sys.exit(1 if FAILS else 0)


if __name__ == "__main__":
    main()
