"""Graph export operators: street counts, degrees, connected
components, largest-component retention, topological simplification.

Reference: ``graph_export.pyx`` (street_count A6), ``graph_simplify.py``
(endpoint rules + chain collapse X2), ``graph_connectivity.py`` (Tarjan
SCC X3). Spark shapes:

* street_count / degrees — pure aggregations (A5/A6), no UDF
* weakly-connected components — iterative small-star label propagation
  (driver loop over DataFrame ops; converges in O(log n) rounds)
* largest SCC — hybrid: distributed weak-CC partitioning first, then
  exact Tarjan per weak component inside ``applyInPandas`` (fastest
  when components fit a task); ``scc_components_distributed`` is the
  no-limit scale path (trim + forward-max-coloring + backward
  extraction, pure DataFrame ops, differential-tested against Tarjan)
* simplification — endpoint detection as aggregations, chain labeling
  as connected components over interior-node segment links, chain
  collapse per CHAIN in ``applyInPandas`` (the walk is inherently
  sequential per chain, W4, and each task is bounded by the longest
  chain — not the weak component)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def street_count(edges: DataFrame, u_col: str = "u",
                 v_col: str = "v") -> DataFrame:
    """A6 — undirected incident street segments per node; directional
    copies of the same segment deduped to one undirected edge, whose
    BOTH endpoints then count — so a self-loop contributes 2 to its
    node, exactly the reference's Counter over flattened endpoint
    pairs (graph_export.pyx:12-27; its docstring's 'self-loops counted
    once' refers to the edge dedup, not the endpoint contribution)."""
    und = edges.select(
        F.least(u_col, v_col).alias("a"),
        F.greatest(u_col, v_col).alias("b"),
    ).distinct()
    ends = und.select(F.col("a").alias("node")).unionAll(
        und.select(F.col("b").alias("node"))
    )
    return ends.groupBy("node").agg(F.count("*").alias("street_count"))


def degrees(edges: DataFrame, u_col: str = "u", v_col: str = "v") -> DataFrame:
    """A5 — in/out degree + distinct neighbor count per node over a
    DIRECTED edge list (graph_simplify.py:48-77)."""
    out_deg = edges.groupBy(F.col(u_col).alias("node")).agg(
        F.count("*").alias("out_degree"))
    in_deg = edges.groupBy(F.col(v_col).alias("node")).agg(
        F.count("*").alias("in_degree"))
    nbrs = (
        edges.select(F.col(u_col).alias("node"), F.col(v_col).alias("nbr"))
        .unionAll(edges.select(F.col(v_col).alias("node"),
                               F.col(u_col).alias("nbr")))
        .groupBy("node").agg(F.countDistinct("nbr").alias("n_neighbors"))
    )
    return (
        nbrs.join(out_deg, "node", "left").join(in_deg, "node", "left")
        .fillna(0, subset=["out_degree", "in_degree"])
    )


def endpoint_nodes(
    edges: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
    edge_attr_cols: tuple = (),
    node_include: DataFrame | None = None,
) -> DataFrame:
    """X2 endpoint detection, OSMnx rules 1-5 over a DIRECTED edge
    list, entirely as aggregations (graph_simplify.py:60-97 semantics):

    1. self-loop;
    2. dead-end — no in-edges or no out-edges;
    3. not a clean pass-through — pass-through iff exactly 2 distinct
       undirected neighbours AND total degree in {2, 4} (one-way
       through, or two-way through);
    4. ``node_include`` — nodes in this one-column DataFrame are forced
       endpoints (the node-attribute relaxation rule);
    5. ``edge_attr_cols`` — a node whose incident (in+out) edges
       disagree on any named column is an endpoint, so collapsed chains
       stay attribute-uniform.

    Returns (node, is_endpoint). One shuffle per aggregate, all
    map-side combinable; no Python.
    """
    u, v = F.col(u_col), F.col(v_col)
    e = edges.select(u.alias("eu"), v.alias("ev"),
                     *[F.col(c).alias(f"a_{c}") for c in edge_attr_cols])

    deg = degrees(e, "eu", "ev").withColumnRenamed(
        "n_neighbors", "distinct_nbr")
    loops = (e.filter(F.col("eu") == F.col("ev"))
             .select(F.col("eu").alias("node")).distinct()
             .withColumn("self_loop", F.lit(True)))
    flags = deg.join(loops, "node", "left").withColumn(
        "self_loop", F.coalesce(F.col("self_loop"), F.lit(False)))

    is_pass = (
        (F.col("distinct_nbr") == 2)
        & (F.col("in_degree") + F.col("out_degree")).isin(2, 4)
    )
    endpoint = (
        F.col("self_loop")
        | (F.col("in_degree") == 0) | (F.col("out_degree") == 0)
        | ~is_pass
    )
    out = flags.select("node", endpoint.alias("is_endpoint"))

    if edge_attr_cols:
        inc = e.select(
            F.explode(F.array(F.col("eu"), F.col("ev"))).alias("node"),
            *[F.col(f"a_{c}") for c in edge_attr_cols])
        # NULL is a distinct value here (OSMnx: a tagged/untagged
        # boundary splits the chain) — countDistinct ignores NULLs, so
        # count the null class explicitly
        differ = inc.groupBy("node").agg(*[
            ((F.countDistinct(f"a_{c}")
              + F.max(F.col(f"a_{c}").isNull().cast("int"))) > 1
             ).alias(f"d_{c}")
            for c in edge_attr_cols])
        cond = None
        for c in edge_attr_cols:
            d = F.coalesce(F.col(f"d_{c}"), F.lit(False))
            cond = d if cond is None else (cond | d)
        out = (out.join(differ, "node", "left")
               .select("node", (F.col("is_endpoint") | cond)
                       .alias("is_endpoint")))

    if node_include is not None:
        inc_ids = node_include.select(
            F.col(node_include.columns[0]).alias("node")
        ).distinct().withColumn("force", F.lit(True))
        out = (out.join(inc_ids, "node", "left")
               .select("node", (F.col("is_endpoint")
                                | F.coalesce(F.col("force"), F.lit(False)))
                       .alias("is_endpoint")))
    return out


def simplify_directed_chains(
    edges: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
    length_col: str = "length",
    way_col: str = "id",
    edge_attr_cols: tuple = (),
    node_include: DataFrame | None = None,
    geometry_col: str | None = None,
    remove_rings: bool = False,
) -> DataFrame:
    """X2 full form — directed chain collapse with OSMnx endpoint rules
    (graph_simplify.py:239-432): endpoints from ``endpoint_nodes``
    (pure SQL, distributed), chains labeled by ``label_chains`` (CC
    over interior-node segment links), then per-CHAIN directed walks in
    ``applyInPandas`` — each Arrow task is bounded by the longest
    chain, not the weak component. Each directed chain starts at an
    endpoint's
    out-edge and consumes successor out-edges through pass-through
    nodes (preferring not to U-turn), so two-way streets collapse into
    two directed chains. Endpoint-free rings walk from their minimum
    node. Returns one row per chain: (u, v, length, n_segments,
    way_ids) — parity shape of the reference's simplified edge list.

    ``remove_rings=True`` drops endpoint-free ring chains entirely —
    the reference's ``simplify_graph(remove_rings=...)`` switch
    (graph_simplify.py:249; OSMnx drops isolated rings by default,
    this engine defaults to keeping them so chain output row counts
    stay stable for the oracle gate).

    ``geometry_col`` (WKB linestrings per segment) turns on W5 geometry
    stitching (graph_simplify.py:172-236): segment coordinates are
    concatenated in walk order dropping the shared joint vertex.
    Segments carrying the ``reversed`` marker (set by X1
    ``directed_edges`` on u/v-swapped copies, whose WKB payload keeps
    the original orientation) have their coordinates flipped first —
    the reference's reversal bookkeeping.
    """
    seg_cols = [
        F.col(way_col).alias("wid"),
        F.col(u_col).alias("su"), F.col(v_col).alias("sv"),
        F.col(length_col).alias("slen"),
    ]
    if geometry_col is not None:
        seg_cols.append(F.col(geometry_col).alias("sgeom"))
        seg_cols.append(
            (F.col("reversed") if "reversed" in edges.columns
             else F.lit(False)).alias("srev"))
    for c in edge_attr_cols:
        seg_cols.append(F.col(c).cast("string").alias(f"attr_{c}"))
    # checkpoint the projected segment frame ONCE: endpoint detection,
    # the flag joins and chain labeling each run several jobs, and
    # without this every one of them re-executes the whole upstream
    # network pipeline
    seg = edges.select(*seg_cols).localCheckpoint()
    eps = endpoint_nodes(
        seg, "su", "sv",
        tuple(f"attr_{c}" for c in edge_attr_cols), node_include)
    return _simplify_from_endpoints(
        seg, eps, edge_attr_cols, geometry_col, remove_rings)


def _join_endpoint_flags(seg: DataFrame, eps: DataFrame) -> DataFrame:
    """Attach ``u_ep``/``v_ep`` boolean endpoint flags to a segment
    frame from an (node, is_endpoint) frame — shared by the directed
    and undirected simplify paths so the two cannot diverge."""
    ep_only = eps.filter("is_endpoint").select(
        F.col("node").alias("_ep"), F.lit(True).alias("_is_ep"))
    return (seg.join(ep_only.withColumnRenamed("_ep", "su"), "su", "left")
            .withColumnRenamed("_is_ep", "u_ep")
            .join(ep_only.withColumnRenamed("_ep", "sv"), "sv", "left")
            .withColumnRenamed("_is_ep", "v_ep")
            .fillna(False, subset=["u_ep", "v_ep"]))


def _canonical_order(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sort a per-chain Arrow batch by segment content so row indices
    (and therefore every index-based tie-break in the walks) are a
    function of the DATA, not of shuffle partition order. Without this,
    a pass-through node with parallel segments (same endpoints) lets
    pdf row order leak into which copy joins which chain."""
    keys = ["su", "sv", "wid", "slen"]
    if "sgeom" in pdf.columns:
        # two segments equal on all four keys can still carry different
        # coordinates (a way traversing A->B twice via symmetric arcs);
        # without a geometry tiebreak the stable sort preserves
        # partition arrival order between them — the exact
        # nondeterminism this helper exists to remove
        pdf = pdf.assign(_gkey=[
            (bytes(g) if g is not None else b"") for g in pdf["sgeom"]])
        keys = keys + ["_gkey"]
    out = pdf.sort_values(keys, kind="mergesort").reset_index(drop=True)
    return out.drop(columns="_gkey") if "_gkey" in out.columns else out


def _simplify_from_endpoints(
    seg: DataFrame,
    eps: DataFrame,
    edge_attr_cols: tuple,
    geometry_col: str | None,
    remove_rings: bool,
) -> DataFrame:
    seg = _join_endpoint_flags(seg, eps)
    seg = label_chains(seg)

    with_geom = geometry_col is not None

    def per_component(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = _canonical_order(pdf)
        endpoints = set(pdf.loc[pdf["u_ep"], "su"]) | set(
            pdf.loc[pdf["v_ep"], "sv"])
        out_adj: dict = {}
        for i, (a, b) in enumerate(zip(pdf["su"], pdf["sv"])):
            out_adj.setdefault(a, []).append((b, i))
        for k in out_adj:
            out_adj[k].sort()
        used = np.zeros(len(pdf), dtype=bool)
        lens = pdf["slen"].to_numpy()
        wids = pdf["wid"].to_numpy()
        geoms = pdf["sgeom"].to_numpy() if with_geom else None
        revs = pdf["srev"].to_numpy() if with_geom else None
        attr_vals = {c: pdf[f"attr_{c}"].to_numpy() for c in edge_attr_cols}
        rows = []

        def emit(start, end, order):
            order = np.asarray(order)
            total = round(float(lens[order].sum()), 3)
            ways = sorted({int(w) for w in wids[order]})
            row = [start, end, total, len(order), ways]
            # A8 — per-chain attribute merge: rule 5 keeps interior
            # values uniform, but chains touching an attr-differ
            # endpoint can still mix; emit sorted distinct values
            # (len 1 == the reference's "scalar" case)
            for c in edge_attr_cols:
                vals = attr_vals[c][order]
                row.append(sorted({str(x) for x in vals
                                   if x is not None and x == x}))
            if with_geom:
                from pyrosm_spark.functions.geometry_np import (
                    parse_wkb, wkb_linestring)

                pts = []
                for j, si in enumerate(order):
                    _, coords = parse_wkb(bytes(geoms[si]))
                    if revs[si]:
                        coords = coords[::-1]
                    pts.append(coords if j == 0 else coords[1:])
                row.append(wkb_linestring(np.concatenate(pts)))
            rows.append(tuple(row))

        def walk(start, first_to, first_i):
            order = [first_i]
            used[first_i] = True
            prev, cur = start, first_to
            while cur not in endpoints and cur != start:
                # NEVER U-turn: the reference walk (graph_simplify.py
                # _reference_walk) only follows unused out-edges whose
                # target != prev and BREAKS otherwise (one-way dead
                # structures / digitization quirks). Falling back onto
                # a prev-pointing edge here would merge what the
                # reference emits as separate chains.
                fwd = [(x, i) for x, i in out_adj.get(cur, [])
                       if not used[i] and x != prev]
                if not fwd:
                    break
                x, i = fwd[0]
                used[i] = True
                order.append(i)
                prev, cur = cur, x
            emit(start, cur, order)

        for ep in sorted(endpoints):
            for to, i in out_adj.get(ep, []):
                if not used[i]:
                    walk(ep, to, i)
        # Leftover (unvisited) edges: endpoint-free rings plus one-way
        # structures the endpoint walks could not reach. The reference
        # walks these ONLY when ``not remove_rings``
        # (graph_simplify.py:161-164 — its leftover loop is guarded by
        # the flag), so remove_rings=True drops ALL of them, broken
        # leftovers included, not just walks that close on their
        # start. Walk order starts at the MINIMUM remaining node so
        # the emitted u/v labels are deterministic regardless of
        # partition row order.
        while not remove_rings and not used.all():
            rem = np.nonzero(~used)[0]
            rem_nodes = sorted(
                {pdf["su"].iloc[int(j)] for j in rem}
                | {pdf["sv"].iloc[int(j)] for j in rem})
            start = None
            for cand_start in rem_nodes:
                if any(not used[j]
                       for _x, j in out_adj.get(cand_start, [])):
                    start = cand_start
                    break
            if start is None:
                used[rem] = True  # degenerate: unreachable directed stubs
                continue
            cands = [(x, j) for x, j in out_adj.get(start, []) if not used[j]]
            x, j = cands[0]
            order = [j]
            used[j] = True
            prev, cur = start, x
            while cur != start:
                # same no-U-turn rule as the endpoint walk
                fwd = [(y, k) for y, k in out_adj.get(cur, [])
                       if not used[k] and y != prev]
                if not fwd:
                    break
                y, k = fwd[0]
                used[k] = True
                order.append(k)
                prev, cur = cur, y
            emit(start, cur, np.array(order))
        cols = ["u", "v", "length", "n_segments", "way_ids"]
        cols += [f"{c}_values" for c in edge_attr_cols]
        if with_geom:
            cols.append("geometry")
        return pd.DataFrame(rows, columns=cols)

    schema = ("u long, v long, length double, n_segments int, "
              "way_ids array<long>")
    for c in edge_attr_cols:
        schema += f", {c}_values array<string>"
    if with_geom:
        schema += ", geometry binary"
    return seg.groupBy("chain_id").applyInPandas(per_component, schema=schema)


def label_chains(seg: DataFrame) -> DataFrame:
    """Assign every segment a ``chain_id`` such that segments of the
    same collapsible chain (and only those) share an id.

    Two segments belong to one chain exactly when they are connected
    through INTERIOR (non-endpoint) nodes, so the chain components are
    the connected components of the segment-link graph restricted to
    interior incidences. Grouping the walk by ``chain_id`` bounds each
    Arrow task by the longest chain — not by the weak component, which
    for a country-scale road network is the whole graph (the round-2
    Amdahl wall: one task held everything).

    ``seg`` must carry ``su``/``sv`` (segment endpoints) and
    ``u_ep``/``v_ep`` (precomputed endpoint flags). Star-links each
    interior node's incident segments to the minimum incident
    ``seg_id`` (incidence per pass-through node is ≤4, so no quadratic
    pair blowup), then labels with ``connected_components`` — whose
    contraction converges fast here because chain diameters are short.
    Isolated segments (both ends endpoints) keep their own ``seg_id``;
    label namespaces cannot collide because component labels ARE
    minimum member ``seg_id``s.
    """
    seg = seg.withColumn(
        "seg_id", F.monotonically_increasing_id()).localCheckpoint()
    incid = (
        seg.filter(~F.col("u_ep"))
        .select("seg_id", F.col("su").alias("node"))
        .unionAll(seg.filter(~F.col("v_ep"))
                  .select("seg_id", F.col("sv").alias("node")))
    )
    links = (
        incid.groupBy("node")
        .agg(F.min("seg_id").alias("sa"),
             F.collect_set("seg_id").alias("sids"))
        .select("sa", F.explode("sids").alias("sb"))
        .filter(F.col("sa") != F.col("sb"))
    )
    lab = connected_components(links, "sa", "sb")
    return (
        seg.join(lab.withColumnRenamed("node", "seg_id")
                 .withColumnRenamed("comp", "chain_id"),
                 "seg_id", "left")
        .withColumn("chain_id", F.coalesce("chain_id", F.col("seg_id")))
    )


_MAX_DEPTH = 4  # connected_components recursion levels below the call


def connected_components(edges: DataFrame, u_col: str = "u",
                         v_col: str = "v",
                         contraction_rounds: int = 6,
                         max_driver_edges: int = 100_000,
                         _depth: int = 0) -> DataFrame:
    """Weakly-connected components by graph contraction.

    Naive min-label propagation needs O(diameter) full-shuffle rounds —
    a street grid's chain diameter made that ~20 s even at toy scale.
    Instead:

    1. ``contraction_rounds`` cheap neighbor-min rounds coarsen every
       local neighborhood (each round merges radius-1 balls, so the
       number of distinct labels drops geometrically);
    2. contract: the surviving (label_u != label_v) edge pairs form a
       SUPER-GRAPH orders of magnitude smaller than the input — finish
       it exactly with driver-side union-find and broadcast the result
       back over the labels.

    The driver step sees only the contracted graph (for a road network,
    thousands of labels after 6 rounds of million-node input). If the
    contracted super-graph still exceeds ``max_driver_edges``, the
    function RECURSES on the super-graph instead of collecting it (each
    level contracts the diameter geometrically, so depth is
    O(log diameter)); the driver union-find only ever sees a bounded
    edge set. This removes the one data-dependent driver collect in
    the engine — the planetary-scale guard. All data-side work is
    plain joins/groupBys.
    """
    from pyrosm_spark.operators.spatial_join import (
        _pin,
        _pin_fresh,
        _release_pins,
    )

    nshuf = int(edges.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"))
    # The undirected edge table is the LOOP INVARIANT: every
    # contraction round joins it on "b", and the contract step joins
    # it again. Pin it hash-partitioned BY "b" and materialize eagerly
    # (the count below doubles as the materializing action), so each
    # round's neighbor-min join plans with an exchange only on the
    # (smaller) labels side — localCheckpoint, used here previously,
    # does NOT surface the layout to the planner (LogicalRDD reports
    # unknown partitioning; measured), so every round re-shuffled
    # corpus-sized und. persist() is also the reliable choice: a lost
    # executor recomputes the deterministic lineage where a lost
    # localCheckpoint partition fails the job. The per-round LABELS
    # frames keep localCheckpoint — they need lineage TRUNCATION
    # (the iterated plan would grow per round), which persist does not
    # provide. The pin tag carries the recursion depth: a recursive
    # call must not release this call's und, which the final
    # labels.join(mapping) still reads when contraction_rounds == 0
    # leaves labels un-checkpointed. A new top-level call releases
    # every level of the previous call's recursion.
    tag = f"cc_und_{_depth}"
    if _depth == 0:
        for d in range(1, _MAX_DEPTH + 1):
            _release_pins(f"cc_und_{d}")
    und = _pin_fresh(
        tag,
        edges.select(F.col(u_col).alias("a"), F.col(v_col).alias("b"))
        .unionAll(edges.select(F.col(v_col).alias("a"),
                               F.col(u_col).alias("b")))
        .distinct()
        .repartition(nshuf, "b")
    )
    # adaptive: when the whole edge set already fits the driver cap,
    # contraction rounds only add ~2 shuffle jobs each for nothing —
    # the union-find finish is bounded either way.
    if und.count() <= max_driver_edges:
        contraction_rounds = 0
    labels = und.select(F.col("a").alias("node")).distinct().withColumn(
        "comp", F.col("node"))
    for _ in range(contraction_rounds):
        nbr_lab = (
            und.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        labels = (
            labels.join(nbr_lab, "node", "left")
            .select(
                "node",
                F.least(F.col("comp"),
                        F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
            )
            .localCheckpoint()
        )

    # contract: surviving cross-label edges form the super-graph,
    # pinned beside und (the count and the collect below read it) so
    # release_pinned_caches() frees it with the call's pins
    lab_a = labels.select(F.col("node").alias("a"), F.col("comp").alias("ca"))
    lab_b = labels.select(F.col("node").alias("b"), F.col("comp").alias("cb"))
    sup = _pin(tag, und.join(lab_a, "a").join(lab_b, "b")
               .filter(F.col("ca") != F.col("cb"))
               .select("ca", "cb").distinct())
    n_sup = sup.count()
    if _depth < _MAX_DEPTH and n_sup > max_driver_edges:
        # still too big for the driver: recurse on the super-graph
        # (labels are nodes), then broadcast the label -> root map back.
        # The recursion reads a checkpoint of it: each level's plan
        # would otherwise nest every level above it.
        sub = connected_components(
            sup.localCheckpoint(), "ca", "cb", contraction_rounds,
            max_driver_edges, _depth + 1)
        mapping = (sub.withColumnRenamed("comp", "root")
                   .withColumnRenamed("node", "comp"))
        return (
            labels.join(mapping, "comp", "left")
            .select("node", F.coalesce("root", F.col("comp")).alias("comp"))
        )
    # finish exactly on the driver. If recursion depth is exhausted and
    # the super-graph still exceeds the cap (adversarial diameters),
    # STREAM the edges through the union-find instead of collect()ing —
    # driver memory is then bounded by the label->parent map (the
    # irreducible output size), never the edge list.
    super_edges = (sup.toLocalIterator() if n_sup > max_driver_edges
                   else sup.collect())
    parent: dict = {}
    seen: set = set()

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for r in super_edges:
        ca, cb = r["ca"], r["cb"]
        seen.add(ca)
        seen.add(cb)
        ra, rb = find(ca), find(cb)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # map every label to its root, preferring the minimum id
    roots = {c: find(c) for c in seen}
    if not roots:
        return labels
    spark = edges.sparkSession
    # the label type follows the node-id type (strings for string ids,
    # longs for OSM) — never hardcode long
    comp_type = labels.schema["comp"].dataType
    mapping = spark.createDataFrame(
        [(k, v) for k, v in roots.items()],
        T.StructType([T.StructField("comp", comp_type),
                      T.StructField("root", comp_type)]))
    return (
        labels.join(F.broadcast(mapping), "comp", "left")
        .select("node", F.coalesce("root", "comp").alias("comp"))
    )


def largest_component_edges(edges: DataFrame, u_col: str = "u",
                            v_col: str = "v",
                            strongly: bool = False,
                            max_outer: int = 50,
                            max_prop_rounds: int = 512) -> DataFrame:
    """X3/J11 — keep only edges inside the largest (weakly or strongly)
    connected component (graph_connectivity.py:76-84). ``max_outer`` /
    ``max_prop_rounds`` forward to the distributed SCC path when the
    auto-dispatch takes it (round counts are O(diameter))."""
    comps = (
        scc_components(edges, u_col, v_col,
                       max_outer=max_outer,
                       max_prop_rounds=max_prop_rounds)
        if strongly else connected_components(edges, u_col, v_col)
    )
    biggest = (
        comps.groupBy("comp").count()
        .orderBy(F.desc("count"), F.asc("comp")).limit(1)
        .select("comp")
    )
    keep = comps.join(F.broadcast(biggest), "comp").select("node")
    return (
        edges.join(keep.withColumnRenamed("node", u_col), u_col, "left_semi")
        .join(keep.withColumnRenamed("node", v_col), v_col, "left_semi")
    )


def scc_components(edges: DataFrame, u_col: str = "u",
                   v_col: str = "v",
                   max_task_edges: int = 2_000_000,
                   max_outer: int = 50,
                   max_prop_rounds: int = 512) -> DataFrame:
    """Strongly-connected components, auto-dispatching hybrid: weak-CC
    split first (no SCC crosses a weak component), then exact iterative
    Tarjan per weak component in applyInPandas — fastest when every
    weak component fits one task. If ANY weak component holds more
    than ``max_task_edges`` edges (a planet-scale road network is one
    weak component), the function dispatches to
    ``scc_components_distributed`` instead, which has no single-task
    limit; the two are differential-tested label-identical, so the
    dispatch is invisible to callers. ``max_outer``/``max_prop_rounds``
    forward to the distributed path (its round counts are O(diameter),
    so deep one-way rings need them raisable from every caller)."""
    weak = connected_components(edges, u_col, v_col)
    e = (
        edges.select(F.col(u_col).alias("eu"), F.col(v_col).alias("ev"))
        .join(weak.withColumnRenamed("node", "eu"), "eu")
        .withColumnRenamed("comp", "wcomp")
    )
    biggest = (e.groupBy("wcomp").count()
               .agg(F.max("count").alias("mx")).first()["mx"])
    if biggest is not None and biggest > max_task_edges:
        return scc_components_distributed(
            edges, u_col, v_col,
            max_outer=max_outer, max_prop_rounds=max_prop_rounds)

    def per_component(pdf: pd.DataFrame) -> pd.DataFrame:
        # iterative Tarjan (the reference's nonrecursive formulation,
        # graph_connectivity.py:15-73 semantics, independent impl)
        nodes = pd.unique(pd.concat([pdf["eu"], pdf["ev"]]))
        index = {n: i for i, n in enumerate(nodes)}
        n = len(nodes)
        adj: list = [[] for _ in range(n)]
        for a, b in zip(pdf["eu"], pdf["ev"]):
            adj[index[a]].append(index[b])
        ids = np.full(n, -1, dtype=np.int64)
        low = np.zeros(n, dtype=np.int64)
        on_stack = np.zeros(n, dtype=bool)
        stack: list = []
        comp_of = np.full(n, -1, dtype=np.int64)
        counter = [0]
        n_comp = [0]
        for start in range(n):
            if ids[start] != -1:
                continue
            work = [(start, 0)]
            while work:
                at, pi = work[-1]
                if ids[at] == -1:
                    ids[at] = low[at] = counter[0]
                    counter[0] += 1
                    stack.append(at)
                    on_stack[at] = True
                recursed = False
                while pi < len(adj[at]):
                    to = adj[at][pi]
                    if ids[to] == -1:
                        work[-1] = (at, pi + 1)
                        work.append((to, 0))
                        recursed = True
                        break
                    if on_stack[to]:
                        low[at] = min(low[at], low[to])
                    pi += 1
                if recursed:
                    continue
                work.pop()
                if low[at] == ids[at]:
                    while True:
                        w = stack.pop()
                        on_stack[w] = False
                        comp_of[w] = n_comp[0]
                        if w == at:
                            break
                    n_comp[0] += 1
                if work:
                    parent = work[-1][0]
                    low[parent] = min(low[parent], low[at])
        # canonical scc label: min node id in the scc (globally unique
        # because node ids are globally unique)
        out = pd.DataFrame({"node": nodes, "scc_local": comp_of[
            [index[x] for x in nodes]]})
        canon = out.groupby("scc_local")["node"].transform("min")
        return pd.DataFrame({"node": nodes, "comp": canon})

    # label type follows the node-id type (string image ids for pair
    # sets, longs for OSM — same contract as connected_components and
    # scc_components_distributed): a hardcoded long schema would make
    # THIS auto-dispatch arm crash on exactly the string ids the
    # distributed arm supports, so the dispatch would not be
    # "invisible to callers" as documented
    node_t = edges.schema[u_col].dataType.simpleString()
    return e.groupBy("wcomp").applyInPandas(
        per_component, schema=f"node {node_t}, comp {node_t}")


# --------------------------------------------------------------------------
# Topological simplification (X2)
# --------------------------------------------------------------------------

def simplify_chains(edges: DataFrame, u_col: str = "u", v_col: str = "v",
                    length_col: str = "length",
                    way_col: str = "id") -> DataFrame:
    """Collapse degree-2 pass-through chains in an UNDIRECTED segment
    graph; every chain becomes one row (endpoint_u, endpoint_v, summed
    length, segment count, way-id set).

    Endpoint rules (graph_simplify.py:60-97 subset): a node is an
    endpoint when its undirected distinct-neighbor degree != 2, or it
    has a self-loop. Endpoint flags are computed globally as
    aggregations, then the per-chain walk (W4, inherently sequential)
    runs inside applyInPandas grouped by ``label_chains`` chain id —
    each Arrow task holds one chain, never a whole weak component;
    attribute merge = the collect_set analogue of A8."""
    seg = edges.select(
        F.col(way_col).alias("wid"),
        F.col(u_col).alias("su"), F.col(v_col).alias("sv"),
        F.col(length_col).alias("slen"),
    ).localCheckpoint()  # one upstream materialization, many readers
    # global endpoint rule: distinct undirected neighbors != 2 or
    # self-loop (a self-loop puts the node in its own neighbor set,
    # mirrored by counting it below)
    nbrs = (
        seg.select(F.col("su").alias("node"), F.col("sv").alias("nbr"))
        .unionAll(seg.select(F.col("sv").alias("node"),
                             F.col("su").alias("nbr")))
    )
    ep = (
        nbrs.groupBy("node")
        .agg(F.countDistinct("nbr").alias("dn"),
             F.max((F.col("nbr") == F.col("node")).cast("int"))
             .alias("has_loop"))
        .select("node", ((F.col("dn") != 2) | (F.col("has_loop") == 1))
                .alias("is_endpoint"))
    )
    seg = _join_endpoint_flags(seg, ep)
    seg = label_chains(seg)

    def per_component(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = _canonical_order(pdf)
        # undirected adjacency with segment payloads; canonical row
        # order makes every index-based pick below data-deterministic
        adj: dict = {}
        for i, (a, b) in enumerate(zip(pdf["su"], pdf["sv"])):
            adj.setdefault(a, []).append((b, i))
            adj.setdefault(b, []).append((a, i))
        endpoints = set(pdf.loc[pdf["u_ep"], "su"]) | set(
            pdf.loc[pdf["v_ep"], "sv"])
        used = np.zeros(len(pdf), dtype=bool)
        lens = pdf["slen"].to_numpy()
        wids = pdf["wid"].to_numpy()
        rows = []

        def walk(start, nbr, seg_i):
            """Consume segments from an endpoint until the next endpoint."""
            total, count, ways = 0.0, 0, set()
            cur, prev = nbr, start
            total += lens[seg_i]; count += 1; ways.add(int(wids[seg_i]))
            used[seg_i] = True
            while cur not in endpoints:
                nxt = [(x, i) for x, i in adj[cur] if not used[i]]
                if not nxt:
                    break
                x, i = nxt[0]
                used[i] = True
                total += lens[i]; count += 1; ways.add(int(wids[i]))
                prev, cur = cur, x
            return cur, total, count, ways

        for ep in sorted(endpoints):
            for nbr, seg_i in sorted(adj[ep], key=lambda t: (t[0], t[1])):
                if used[seg_i]:
                    continue
                end, total, count, ways = walk(ep, nbr, seg_i)
                rows.append((ep, end, round(total, 3), count,
                             sorted(ways)))
        # pure rings (no endpoint at all): walk from the min node
        remaining = np.nonzero(~used)[0]
        if len(remaining):
            ring_nodes = sorted(
                {pdf["su"].iloc[i] for i in remaining}
                | {pdf["sv"].iloc[i] for i in remaining}
            )
            for start in ring_nodes:
                nxt = [(x, i) for x, i in adj.get(start, []) if not used[i]]
                if not nxt:
                    continue
                x, i = nxt[0]
                used[i] = True
                total, count, ways = lens[i], 1, {int(wids[i])}
                cur = x
                while cur != start:
                    nn = [(y, j) for y, j in adj[cur] if not used[j]]
                    if not nn:
                        break
                    y, j = nn[0]
                    used[j] = True
                    total += lens[j]; count += 1; ways.add(int(wids[j]))
                    cur = y
                rows.append((start, cur, round(total, 3), count,
                             sorted(ways)))
        return pd.DataFrame(rows, columns=["u", "v", "length", "n_segments",
                                           "way_ids"])

    return seg.groupBy("chain_id").applyInPandas(
        per_component,
        schema="u long, v long, length double, n_segments int, "
               "way_ids array<long>",
    )


def scc_components_distributed(
    edges: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
    max_outer: int = 50,
    max_prop_rounds: int = 512,
) -> DataFrame:
    """Strongly-connected components with NO single-task component
    limit — the scale path promised by SURVEY §7.3 hard-part 4 (the
    Tarjan hybrid ``scc_components`` needs one weak component per
    task). Classic trim + forward-max-coloring + backward extraction
    (Orzan's coloring algorithm), entirely DataFrame joins/aggs:

    1. TRIM: peel nodes with no in-edges or no out-edges — each is a
       singleton SCC — until stable;
    2. COLOR: propagate the maximum ancestor id forward to fixpoint;
       a node whose color equals its own id is a root, and its SCC is
       exactly the backward closure of the root inside its color
       class;
    3. EXTRACT all root SCCs simultaneously, remove them, repeat.

    Every SCC label is canonicalized to the SCC's minimum node id —
    bit-identical to ``scc_components``' labels (differential-tested).
    Round counts are data-dependent (O(diameter) per coloring pass);
    ``localCheckpoint`` truncates lineage each step. For road-scale
    graphs the Tarjan hybrid is faster; this exists for graphs whose
    single weak component outgrows a task.
    """
    from pyspark.sql import Window as W

    E = (edges.select(F.col(u_col).alias("u"), F.col(v_col).alias("v"))
         .distinct().localCheckpoint())
    all_nodes = (E.select(F.col("u").alias("node"))
                 .union(E.select(F.col("v").alias("node")))
                 .distinct().localCheckpoint())
    spark = edges.sparkSession
    # node-id type follows the input (longs for OSM, strings for e.g.
    # image-id pair sets)
    node_type = E.schema["u"].dataType
    done = spark.createDataFrame([], T.StructType([
        T.StructField("node", node_type),
        T.StructField("comp", node_type)]))

    for _outer in range(max_outer):
        if E.limit(1).count() == 0:
            break
        # --- 1. trim singleton SCCs ------------------------------------
        while True:
            src = E.select(F.col("u").alias("node")).distinct()
            dst = E.select(F.col("v").alias("node")).distinct()
            both = src.join(dst, "node", "left_semi")
            present = src.union(dst).distinct()
            trivial = present.join(both, "node", "left_anti") \
                .localCheckpoint()
            if trivial.limit(1).count() == 0:
                break
            done = done.union(
                trivial.select("node", F.col("node").alias("comp")))
            E = (E.join(trivial.withColumnRenamed("node", "u"),
                        "u", "left_anti")
                 .join(trivial.withColumnRenamed("node", "v"),
                       "v", "left_anti").localCheckpoint())
        if E.limit(1).count() == 0:
            break
        # --- 2. forward max-coloring to fixpoint -----------------------
        nodes = (E.select(F.col("u").alias("node"))
                 .union(E.select(F.col("v").alias("node"))).distinct())
        color = nodes.withColumn("color", F.col("node")).localCheckpoint()
        converged = False
        for _r in range(max_prop_rounds):
            upd = (
                E.join(color.select(F.col("node").alias("u"),
                                    F.col("color").alias("uc")), "u")
                .groupBy(F.col("v").alias("node"))
                .agg(F.max("uc").alias("in_max"))
            )
            new_color = (
                color.join(upd, "node", "left")
                .select("node",
                        F.greatest(F.col("color"),
                                   F.coalesce("in_max", F.col("color")))
                        .alias("color"))
                .localCheckpoint()
            )
            changed = (
                new_color.alias("n")
                .join(color.alias("o"), "node")
                .filter(F.col("n.color") != F.col("o.color"))
                .limit(1).count()
            )
            color = new_color
            if changed == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                "forward coloring did not reach a fixpoint within "
                f"max_prop_rounds={max_prop_rounds}; raise it (one "
                "round covers one hop of the remaining diameter).")
        # --- 3. backward closure of each root inside its color class --
        Ec = (
            E.join(color.select(F.col("node").alias("u"),
                                F.col("color").alias("cu")), "u")
            .join(color.select(F.col("node").alias("v"),
                               F.col("color").alias("cv")), "v")
            .filter(F.col("cu") == F.col("cv")).localCheckpoint()
        )
        S = (color.filter(F.col("color") == F.col("node"))
             .select("node", F.col("node").alias("comp"))
             .localCheckpoint())
        n_s = S.count()
        bw_converged = False
        for _r in range(max_prop_rounds):
            grow = (
                Ec.join(S.select(F.col("node").alias("v"), "comp"), "v")
                .filter(F.col("cu") == F.col("comp"))
                .select(F.col("u").alias("node"), "comp").distinct()
            )
            new_s = S.union(grow).distinct().localCheckpoint()
            n_new = new_s.count()
            S = new_s
            if n_new == n_s:
                bw_converged = True
                break
            n_s = n_new
        if not bw_converged:
            raise RuntimeError(
                "backward extraction did not close within "
                f"max_prop_rounds={max_prop_rounds}; raise it.")
        done = done.union(S)
        E = (E.join(S.select(F.col("node").alias("u")), "u", "left_anti")
             .join(S.select(F.col("node").alias("v")), "v", "left_anti")
             .localCheckpoint())

    # bound exhaustion with edges remaining would mean unprocessed
    # (possibly non-singleton) SCCs — refuse to mislabel silently
    if E.limit(1).count() != 0:
        raise RuntimeError(
            "scc_components_distributed did not converge within "
            f"max_outer={max_outer} / max_prop_rounds={max_prop_rounds};"
            " raise the bounds (each coloring pass covers one graph "
            "diameter).")
    # nodes that only ever appeared as trimmed singletons' neighbors
    leftover = all_nodes.join(done.select("node"), "node", "left_anti")
    done = done.union(leftover.select(
        "node", F.col("node").alias("comp")))
    # canonicalize: SCC label = min node id (matches scc_components)
    return done.withColumn(
        "comp", F.min("node").over(W.partitionBy("comp")))
