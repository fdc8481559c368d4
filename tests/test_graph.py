"""Graph operators vs pure-python oracles (no graph libs in container)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyrosm_spark.operators.graph import (
    connected_components,
    degrees,
    largest_component_edges,
    scc_components,
    scc_components_distributed,
    simplify_chains,
    street_count,
)


@pytest.fixture(scope="module")
def toy_edges(spark):
    # two weak components; left one has a directed cycle 1->2->3->1 and
    # a tail 3->4->5; right one is a simple path 10->11->12
    rows = [
        (100, 1, 2, 10.0), (101, 2, 3, 10.0), (102, 3, 1, 10.0),
        (103, 3, 4, 5.0), (104, 4, 5, 5.0),
        (200, 10, 11, 7.0), (201, 11, 12, 7.0),
    ]
    return spark.createDataFrame(
        rows, "id long, u long, v long, length double")


def test_street_count(spark, toy_edges):
    got = {r["node"]: r["street_count"]
           for r in street_count(toy_edges).collect()}
    # undirected distinct segments: 1-2,2-3,1-3,3-4,4-5,10-11,11-12
    assert got == {1: 2, 2: 2, 3: 3, 4: 2, 5: 1, 10: 1, 11: 2, 12: 1}


def test_street_count_self_loop(spark):
    """A self-loop contributes BOTH endpoints (reference Counter over
    flattened pairs, graph_export.pyx:25-27: (n, n) flattens to two
    n's); directional copies still dedupe to one edge."""
    e = spark.createDataFrame([(1, 7, 7, 1.0), (2, 7, 8, 1.0),
                               (3, 8, 7, 1.0)],
                              "id long, u long, v long, length double")
    got = {r["node"]: r["street_count"] for r in street_count(e).collect()}
    assert got == {7: 3, 8: 1}


def test_degrees(spark, toy_edges):
    got = {r["node"]: (r["in_degree"], r["out_degree"], r["n_neighbors"])
           for r in degrees(toy_edges).collect()}
    assert got[3] == (1, 2, 3)  # in from 2; out to 1 and 4
    assert got[1] == (1, 1, 2)
    assert got[5] == (1, 0, 1)


def test_connected_components(spark, toy_edges):
    got = {r["node"]: r["comp"]
           for r in connected_components(toy_edges).collect()}
    left = {got[n] for n in (1, 2, 3, 4, 5)}
    right = {got[n] for n in (10, 11, 12)}
    assert left == {1} and right == {10}


def test_scc(spark, toy_edges):
    got = {r["node"]: r["comp"] for r in scc_components(toy_edges).collect()}
    # cycle 1-2-3 is one SCC; 4, 5, 10, 11, 12 are singletons
    assert got[1] == got[2] == got[3] == 1
    assert len({got[4], got[5], got[10], got[11], got[12]}) == 5


def test_largest_component_weak_and_strong(spark, toy_edges):
    weak = largest_component_edges(toy_edges)
    assert {r["id"] for r in weak.select("id").collect()} == {
        100, 101, 102, 103, 104}
    strong = largest_component_edges(toy_edges, strongly=True)
    # largest SCC = {1,2,3}: only edges with both ends inside it survive
    assert {r["id"] for r in strong.select("id").collect()} == {100, 101, 102}


def test_simplify_chains_path_and_ring(spark):
    # chain a-b-c-d (b, c degree 2) + separate pure ring x-y-z-x
    rows = [
        (1, 1, 2, 1.0), (2, 2, 3, 2.0), (3, 3, 4, 3.0),
        (4, 20, 21, 1.0), (5, 21, 22, 1.0), (6, 22, 20, 1.0),
    ]
    e = spark.createDataFrame(rows, "id long, u long, v long, length double")
    out = simplify_chains(e).collect()
    chains = {(r["u"], r["v"]): r for r in out}
    # path collapses into one chain 1->4 of length 6 and 3 segments
    key = (1, 4) if (1, 4) in chains else (4, 1)
    assert key in chains
    assert chains[key]["length"] == 6.0
    assert chains[key]["n_segments"] == 3
    assert sorted(chains[key]["way_ids"]) == [1, 2, 3]
    # ring with no endpoints collapses into one closed chain len 3
    ring = [r for r in out if r["n_segments"] == 3 and r["length"] == 3.0]
    assert len(ring) == 1 and ring[0]["u"] == ring[0]["v"] == 20


def test_simplify_on_network(spark, synth_dir):
    """Chain collapse on the real synthetic driving network preserves
    total length and reduces edge count."""
    from pyrosm_spark.operators.network import get_network
    from pyrosm_spark.operators.osm_source import load_osm

    nodes, ways, _ = load_osm(spark, synth_dir)
    _, edges = get_network(nodes, ways, "driving", with_nodes=True)
    seg_total = edges.agg(F.sum("length")).collect()[0][0]
    seg_count = edges.count()
    simp = simplify_chains(edges)
    simp_total = simp.agg(F.sum("length")).collect()[0][0]
    assert simp.count() < seg_count
    assert simp_total == pytest.approx(seg_total, rel=1e-6)


# --------------------------------------------------------------------------
# X4 — networkx export (driver-side terminal op)
# --------------------------------------------------------------------------

def test_to_networkx_export(spark, synth_dir):
    """MultiDiGraph export parity: osmnx naming, endpoint closure,
    street_count on the exported graph matching the distributed
    street_count operator over the same final edge set."""
    nx = pytest.importorskip("networkx")

    from pyrosm_spark.operators.export import to_networkx
    from pyrosm_spark.operators.graph import (
        largest_component_edges, street_count)
    from pyrosm_spark.operators.network import directed_edges, get_network
    from pyrosm_spark.operators.osm_source import load_osm

    nodes, ways, _ = load_osm(spark, synth_dir)
    ndf, edf = get_network(nodes, ways, "driving", with_nodes=True)
    g = to_networkx(ndf, edf, "driving")

    assert isinstance(g, nx.MultiDiGraph)
    assert g.graph["crs"] == "EPSG:4326"
    assert g.number_of_nodes() > 0 and g.number_of_edges() > 0
    # strongly-connected retention (retain_all=False default)
    assert nx.is_strongly_connected(nx.DiGraph(g))

    # osmnx-compatible attrs
    n0, attrs = next(iter(g.nodes(data=True)))
    assert {"osmid", "x", "y", "street_count"} <= set(attrs)
    assert attrs["osmid"] == n0
    _, _, eattrs = next(iter(g.edges(data=True)))
    assert {"u", "v", "key", "length"} <= set(eattrs)

    # every edge endpoint is a materialized node (closure)
    node_set = set(g.nodes())
    for u, v in g.edges(keys=False):
        assert u in node_set and v in node_set

    # street_count parity: distributed operator over the same final
    # (directed, largest-SCC) edge set vs the exported graph's counts
    final_edges = largest_component_edges(
        directed_edges(edf, "driving"), strongly=True)
    dist = {r["node"]: r["street_count"]
            for r in street_count(final_edges).collect()}
    nx_counts = {n: a["street_count"] for n, a in g.nodes(data=True)}
    assert nx_counts == dist


def test_to_networkx_retain_all(spark, synth_dir):
    """retain_all=True keeps every weak component (>= SCC node count)."""
    pytest.importorskip("networkx")

    from pyrosm_spark.operators.export import to_networkx
    from pyrosm_spark.operators.network import get_network
    from pyrosm_spark.operators.osm_source import load_osm

    nodes, ways, _ = load_osm(spark, synth_dir)
    ndf, edf = get_network(nodes, ways, "driving", with_nodes=True)
    g_all = to_networkx(ndf, edf, "driving", retain_all=True)
    g_scc = to_networkx(ndf, edf, "driving", retain_all=False)
    assert g_all.number_of_nodes() >= g_scc.number_of_nodes()
    assert g_all.number_of_edges() > 0


# --------------------------------------------------------------------------
# X2 full form — OSMnx endpoint rules 1-5 + directed chain collapse
# --------------------------------------------------------------------------

def _edges(spark, rows, attrs=False):
    schema = "id long, u long, v long, length double"
    if attrs:
        schema += ", highway string"
    return spark.createDataFrame(rows, schema)


def _eps(df):
    from pyrosm_spark.operators.graph import endpoint_nodes
    return {r["node"] for r in endpoint_nodes(df).filter("is_endpoint").collect()}


def test_endpoints_two_way_street(spark):
    # 1<->2<->3<->4: interior nodes are clean two-way pass-throughs
    rows = []
    eid = 0
    for a, b in [(1, 2), (2, 3), (3, 4)]:
        rows += [(eid, a, b, 1.0), (eid + 1, b, a, 1.0)]
        eid += 2
    e = _edges(spark, rows)
    assert _eps(e) == {1, 4}

    from pyrosm_spark.operators.graph import simplify_directed_chains
    chains = simplify_directed_chains(e).collect()
    assert len(chains) == 2  # one directed chain per direction
    assert {(c["u"], c["v"]) for c in chains} == {(1, 4), (4, 1)}
    assert all(c["n_segments"] == 3 and abs(c["length"] - 3.0) < 1e-9
               for c in chains)


def test_endpoints_one_way_chain_and_ring(spark):
    # one-way chain 1->2->3->4 collapses to a single chain
    e = _edges(spark, [(0, 1, 2, 1.0), (1, 2, 3, 1.0), (2, 3, 4, 1.0)])
    assert _eps(e) == {1, 4}  # dead-ends (no in / no out)

    from pyrosm_spark.operators.graph import simplify_directed_chains
    chains = simplify_directed_chains(e).collect()
    assert len(chains) == 1
    c = chains[0]
    assert (c["u"], c["v"], c["n_segments"]) == (1, 4, 3)

    # endpoint-free one-way ring 1->2->3->1: walked from its min node
    ring = _edges(spark, [(0, 1, 2, 1.0), (1, 2, 3, 1.0), (2, 3, 1, 1.0)])
    assert _eps(ring) == set()
    chains = simplify_directed_chains(ring).collect()
    assert len(chains) == 1
    assert (chains[0]["u"], chains[0]["v"]) == (1, 1)
    assert chains[0]["n_segments"] == 3


def test_endpoints_self_loop_and_attr_differ(spark):
    from pyrosm_spark.operators.graph import (
        endpoint_nodes, simplify_directed_chains)

    # self-loop at 5 forces an endpoint (rule 1)
    e = _edges(spark, [(0, 5, 5, 1.0), (1, 5, 6, 1.0)])
    got = {r["node"] for r in
           endpoint_nodes(e).filter("is_endpoint").collect()}
    assert 5 in got

    # rule 5: highway value changes at node 3 -> endpoint there
    rows = [(0, 1, 2, 1.0, "primary"), (1, 2, 3, 1.0, "primary"),
            (2, 3, 4, 1.0, "residential")]
    ea = _edges(spark, rows, attrs=True)
    eps = {r["node"] for r in
           endpoint_nodes(ea, edge_attr_cols=("highway",))
           .filter("is_endpoint").collect()}
    assert eps == {1, 3, 4}
    chains = simplify_directed_chains(
        ea, edge_attr_cols=("highway",)).collect()
    assert {(c["u"], c["v"]) for c in chains} == {(1, 3), (3, 4)}
    # A8 — attribute merge: rule 5 keeps each chain value-uniform here
    vals = {(c["u"], c["v"]): c["highway_values"] for c in chains}
    assert vals == {(1, 3): ["primary"], (3, 4): ["residential"]}


def test_endpoints_node_include(spark):
    from pyrosm_spark.operators.graph import simplify_directed_chains

    e = _edges(spark, [(0, 1, 2, 1.0), (1, 2, 3, 1.0), (2, 3, 4, 1.0)])
    inc = spark.createDataFrame([(2,)], "node long")
    chains = simplify_directed_chains(e, node_include=inc).collect()
    assert {(c["u"], c["v"]) for c in chains} == {(1, 2), (2, 4)}


def test_directed_chain_geometry_stitching(spark, synth_dir):
    """W5 — chain geometry: one WKB linestring per chain, built from
    segment geometries in walk order; joints deduped so a chain of n
    segments has n+1 points; first/last points sit at the chain's
    u/v node coordinates."""
    from pyrosm_spark.functions.geometry_np import parse_wkb
    from pyrosm_spark.operators.graph import simplify_directed_chains
    from pyrosm_spark.operators.network import directed_edges, get_network
    from pyrosm_spark.operators.osm_source import load_osm

    nodes, ways, _ = load_osm(spark, synth_dir)
    ndf, edf = get_network(nodes, ways, "driving", with_nodes=True)
    d = directed_edges(edf, "driving")
    chains = simplify_directed_chains(d, geometry_col="geometry").collect()
    assert chains
    coords_by_node = {r["id"]: (r["lon"], r["lat"])
                      for r in ndf.select("id", "lon", "lat").collect()}
    for c in chains:
        _, pts = parse_wkb(bytes(c["geometry"]))
        assert len(pts) == c["n_segments"] + 1
        ux, uy = coords_by_node[c["u"]]
        vx, vy = coords_by_node[c["v"]]
        assert abs(pts[0][0] - ux) < 1e-9 and abs(pts[0][1] - uy) < 1e-9
        assert abs(pts[-1][0] - vx) < 1e-9 and abs(pts[-1][1] - vy) < 1e-9
        # interior joints are contiguous (no gaps): consecutive points differ
        for a, b in zip(pts[:-1], pts[1:]):
            assert not (a[0] == b[0] and a[1] == b[1])


def test_to_networkx_simplified(spark, synth_dir):
    """simplify=True export: pass-through nodes collapse — strictly
    fewer (or equal) edges and nodes than the unsimplified export, and
    no remaining node is a clean pass-through."""
    nx = pytest.importorskip("networkx")

    from pyrosm_spark.operators.export import to_networkx
    from pyrosm_spark.operators.network import get_network
    from pyrosm_spark.operators.osm_source import load_osm

    nodes, ways, _ = load_osm(spark, synth_dir)
    ndf, edf = get_network(nodes, ways, "driving", with_nodes=True)
    g_full = to_networkx(ndf, edf, "driving")
    g_simp = to_networkx(ndf, edf, "driving", simplify=True)
    assert g_simp.number_of_edges() <= g_full.number_of_edges()
    assert g_simp.number_of_nodes() <= g_full.number_of_nodes()
    assert g_simp.number_of_edges() > 0
    # every surviving node fails the clean-pass-through test
    for n in g_simp.nodes():
        nbrs = (set(g_simp.successors(n)) | set(g_simp.predecessors(n)))
        deg = g_simp.in_degree(n) + g_simp.out_degree(n)
        assert not (len(nbrs - {n}) == 2 and deg in (2, 4) and n not in nbrs)
    # chain edges carry stitched geometry + way id sets
    _, _, attrs = next(iter(g_simp.edges(data=True)))
    assert "way_ids" in attrs and "geometry" in attrs


def test_endpoint_attr_differ_null_boundary(spark):
    """Rule 5 must treat NULL as its own value class: a chain whose
    attribute flips between tagged and untagged splits at the
    boundary node."""
    rows = [(0, 1, 2, 1.0, "primary"), (1, 2, 3, 1.0, "primary"),
            (2, 3, 4, 1.0, None)]
    e = _edges(spark, rows, attrs=True)
    from pyrosm_spark.operators.graph import (
        endpoint_nodes, simplify_directed_chains)
    eps = {r["node"] for r in
           endpoint_nodes(e, edge_attr_cols=("highway",))
           .filter("is_endpoint").collect()}
    assert 3 in eps
    chains = simplify_directed_chains(
        e, edge_attr_cols=("highway",)).collect()
    assert {(c["u"], c["v"]) for c in chains} == {(1, 3), (3, 4)}


def test_cc_recursion_guard_on_long_chain(spark):
    """A pathological long chain leaves a large super-graph after the
    cheap contraction rounds; with max_driver_edges forced tiny the
    finish must RECURSE on the super-graph instead of collecting it,
    and still label one single component."""
    from pyrosm_spark.operators.graph import connected_components

    n = 600
    rows = [(i, i + 1) for i in range(n)]          # one long path
    rows += [(10_000 + i, 10_001 + i) for i in range(5)]  # second comp
    df = spark.createDataFrame(rows, "u long, v long")
    # 2 rounds leave a long chain of labels; cap forces >=1 recursion
    comp = connected_components(df, contraction_rounds=2,
                                max_driver_edges=10)
    rowsc = {r["node"]: r["comp"] for r in comp.collect()}
    assert len(rowsc) == n + 1 + 6
    chain_labels = {rowsc[i] for i in range(n + 1)}
    other_labels = {rowsc[10_000 + i] for i in range(6)}
    assert chain_labels == {0}
    assert other_labels == {10_000}


def test_igraph_frames_contract():
    """X4 — sequential-vertex contract of the reference's
    _create_igraph (graph_export.pyx:29-108), testable without the
    igraph runtime: node_id = 0..n-1, edge *_seq mapped through it,
    missing-endpoint edges skipped."""
    import pandas as pd

    from pyrosm_spark.operators.export import igraph_frames

    npd = pd.DataFrame({"id": [100, 200, 300], "lon": [0.0, 1.0, 2.0],
                        "lat": [0.0, 1.0, 2.0]})
    epd = pd.DataFrame({"u": [100, 200, 300, 999],
                        "v": [200, 300, 100, 100],
                        "length": [1.0, 2.0, 3.0, 4.0]})
    n2, e2, edge_list = igraph_frames(npd, epd)
    assert list(n2["node_id"]) == [0, 1, 2]
    assert len(e2) == 3  # the 999 edge is skipped, never raised
    assert edge_list == [(0, 1), (1, 2), (2, 0)]
    assert list(e2["u_seq"]) == [0, 1, 2]
    assert list(e2["v_seq"]) == [1, 2, 0]
    assert list(e2["length"]) == [1.0, 2.0, 3.0]


def test_pandana_frames_contract():
    """X4 — the reference's _build_routing_network frame shape
    (graph_export.pyx:196-206): nodes lon/lat -> x/y indexed by id,
    directed edges with weight columns, missing endpoints dropped."""
    import pandas as pd
    import pytest as _pt

    from pyrosm_spark.operators.export import pandana_frames

    npd = pd.DataFrame({"id": [10, 20], "lon": [0.5, 1.5],
                        "lat": [2.5, 3.5]})
    epd = pd.DataFrame({"u": [10, 20, 10], "v": [20, 10, 77],
                        "length": [5.0, 6.0, 7.0]})
    n2, e2 = pandana_frames(npd, epd)
    assert list(n2.columns[:1]) == ["id"]
    assert list(n2.index) == [10, 20] and n2.index.name is None
    assert list(n2["x"]) == [0.5, 1.5] and list(n2["y"]) == [2.5, 3.5]
    assert len(e2) == 2  # the (10, 77) edge dropped
    with _pt.raises(ValueError, match="weight"):
        pandana_frames(npd, epd, weight_cols=("travel_time",))


def test_to_igraph_raises_clean_importerror(spark, synth_dir):
    """The igraph/pandana runtimes are absent in this container; the
    exporters must run the full distributed pipeline + frame contract
    and fail only at the final constructor with the reference's
    ImportError message."""
    import pytest as _pt

    from pyrosm_spark.operators.export import to_igraph, to_pandana
    from pyrosm_spark.operators.network import get_network
    from pyrosm_spark.operators.osm_source import load_osm

    nodes, ways, _ = load_osm(spark, synth_dir)
    gnodes, edges = get_network(nodes, ways, "driving", with_nodes=True)
    try:
        import igraph  # noqa: F401
        has_igraph = True
    except ImportError:
        has_igraph = False
    if has_igraph:
        g = to_igraph(gnodes, edges)
        assert g.vcount() > 0
    else:
        with _pt.raises(ImportError, match="python-igraph"):
            to_igraph(gnodes, edges)
    try:
        import pandana  # noqa: F401
        has_pandana = True
    except ImportError:
        has_pandana = False
    if not has_pandana:
        with _pt.raises(ImportError, match="pandana"):
            to_pandana(gnodes, edges)


def test_exporter_constructors_via_fake_modules(spark, synth_dir,
                                                monkeypatch):
    """Drive the FINAL constructor lines of to_igraph/to_pandana
    (export.py:226-231, :282-284) without the real runtimes: inject
    stand-in modules that capture the constructor call, and assert the
    captured arguments satisfy the libraries' documented contracts
    (igraph: sequential vertex ids covering every edge endpoint;
    pandana: positional/keyword frames aligned on the directed edge
    list)."""
    import sys
    import types

    from pyrosm_spark.operators.export import to_igraph, to_pandana
    from pyrosm_spark.operators.network import get_network
    from pyrosm_spark.operators.osm_source import load_osm

    nodes, ways, _ = load_osm(spark, synth_dir)
    gnodes, edges = get_network(nodes, ways, "driving", with_nodes=True)

    captured = {}

    class _FakeGraph:
        def __init__(self, n, directed, edges, vertex_attrs, edge_attrs):
            captured["igraph"] = dict(
                n=n, directed=directed, edges=edges,
                vertex_attrs=vertex_attrs, edge_attrs=edge_attrs)

    fake_ig = types.ModuleType("igraph")
    fake_ig.Graph = _FakeGraph
    monkeypatch.setitem(sys.modules, "igraph", fake_ig)

    g = to_igraph(gnodes, edges)
    assert isinstance(g, _FakeGraph)
    cap = captured["igraph"]
    assert cap["directed"] is True
    assert cap["n"] == len(cap["vertex_attrs"]["node_id"])
    assert cap["vertex_attrs"]["node_id"] == list(range(cap["n"]))
    assert len(cap["edges"]) > 0
    assert all(0 <= a < cap["n"] and 0 <= b < cap["n"]
               for a, b in cap["edges"])
    assert len(cap["edge_attrs"]["u_seq"]) == len(cap["edges"])

    class _FakeNetwork:
        def __init__(self, node_x, node_y, edge_from, edge_to,
                     edge_weights, twoway):
            captured["pandana"] = dict(
                node_x=node_x, node_y=node_y, edge_from=edge_from,
                edge_to=edge_to, edge_weights=edge_weights,
                twoway=twoway)

    fake_pd = types.ModuleType("pandana")
    fake_pd.Network = _FakeNetwork
    monkeypatch.setitem(sys.modules, "pandana", fake_pd)

    net = to_pandana(gnodes, edges)
    assert isinstance(net, _FakeNetwork)
    cap = captured["pandana"]
    assert cap["twoway"] is False
    assert len(cap["node_x"]) == len(cap["node_y"]) > 0
    assert len(cap["edge_from"]) == len(cap["edge_to"]) == len(
        cap["edge_weights"])
    assert list(cap["edge_weights"].columns) == ["length"]
    known = set(cap["node_x"].index)
    assert set(cap["edge_from"]).issubset(known)
    assert set(cap["edge_to"]).issubset(known)


def _scc_maps(spark, rows):
    from pyrosm_spark.operators.graph import (
        scc_components,
        scc_components_distributed,
    )

    df = spark.createDataFrame(rows, "u long, v long")
    tarjan = {r["node"]: r["comp"] for r in scc_components(df).collect()}
    dist = {r["node"]: r["comp"]
            for r in scc_components_distributed(df).collect()}
    return tarjan, dist


def test_distributed_scc_equals_tarjan_cycles_and_tails(spark):
    """Trim + coloring + backward extraction == per-component Tarjan,
    label-for-label, on the classic shapes: cycle with a tail, two
    cycles bridged one-way, a self-loop, and a pure DAG."""
    rows = (
        [(1, 2), (2, 3), (3, 1),            # 3-cycle {1,2,3}
         (3, 4), (4, 5),                    # tail (singletons)
         (10, 11), (11, 10),                # 2-cycle {10,11}
         (11, 20), (20, 21), (21, 22), (22, 20),  # bridged 3-cycle
         (30, 30),                          # self-loop singleton SCC
         (40, 41), (41, 42)]                # DAG chain
    )
    tarjan, dist = _scc_maps(spark, rows)
    assert dist == tarjan
    assert dist[1] == dist[2] == dist[3] == 1
    assert dist[10] == dist[11] == 10
    assert dist[20] == dist[21] == dist[22] == 20
    assert dist[4] == 4 and dist[5] == 5 and dist[30] == 30


def test_distributed_scc_equals_tarjan_random(spark):
    """Differential on a random digraph (seeded) — same SCC labels."""
    import numpy as np

    rng = np.random.default_rng(1234)
    n = 40
    rows = [(int(rng.integers(0, n)), int(rng.integers(0, n)))
            for _ in range(90)]
    tarjan, dist = _scc_maps(spark, rows)
    assert dist == tarjan


def test_directed_ring_walk_start_is_order_invariant(spark):
    """Endpoint-free directed rings must emit the same (u, v) labels
    regardless of input row order — the walk starts at the ring's
    minimum node, not at whatever segment arrived first."""
    import random

    from pyrosm_spark.operators.graph import simplify_directed_chains

    # a pure one-way 5-cycle (every node a clean pass-through)
    base = [(i, (17 + 3 * k) % 5 + 30, (17 + 3 * (k + 1)) % 5 + 30, 1.0)
            for i, k in enumerate(range(5))]
    outs = []
    for seed in (1, 2, 3):
        rows = base[:]
        random.Random(seed).shuffle(rows)
        df = spark.createDataFrame(rows, "id long, u long, v long, "
                                         "length double")
        out = sorted(
            (r["u"], r["v"], r["length"], r["n_segments"],
             tuple(sorted(r["way_ids"])))
            for r in simplify_directed_chains(df).collect())
        outs.append(out)
    assert outs[0] == outs[1] == outs[2]
    # the single ring chain starts/ends at the minimum ring node
    assert outs[0][0][0] == 30 and outs[0][0][1] == 30


def test_parallel_edges_stay_separate(spark):
    """Reference graph_simplify: two distinct parallel edges between
    the same endpoint pair must not merge — all 4 directed rows
    survive as single-segment chains."""
    from pyrosm_spark.operators.graph import simplify_directed_chains

    rows = [(10, 1, 2, 1.0), (11, 2, 1, 1.0),
            (20, 1, 2, 1.6), (21, 2, 1, 1.6)]
    df = spark.createDataFrame(rows, "id long, u long, v long, "
                                     "length double")
    out = simplify_directed_chains(df).collect()
    assert len(out) == 4
    assert all(r["n_segments"] == 1 for r in out)
    assert sorted(tuple(r["way_ids"]) for r in out) == \
        [(10,), (11,), (20,), (21,)]


def test_oneway_loop_back_to_endpoint(spark):
    """A one-way path looping back to its origin endpoint collapses to
    ONE self-loop chain in walk order; the dead-end feeder edge
    survives separately (reference graph_simplify:252-276)."""
    from pyrosm_spark.operators.graph import simplify_directed_chains

    rows = [(40, 4, 1, 1.0), (12, 1, 2, 1.0),
            (23, 2, 3, 1.0), (31, 3, 1, 1.0)]
    df = spark.createDataFrame(rows, "id long, u long, v long, "
                                     "length double")
    out = sorted((r["u"], r["v"], r["n_segments"],
                  tuple(sorted(r["way_ids"])))
                 for r in simplify_directed_chains(df).collect())
    assert (1, 1, 3, (12, 23, 31)) in out  # the collapsed loop
    assert (4, 1, 1, (40,)) in out         # the feeder, untouched
    assert len(out) == 2


def test_remove_rings_flag(spark):
    """A pure one-way ring (every node pass-through) is dropped with
    remove_rings=True and collapses to one ring chain otherwise
    (reference simplify_graph remove_rings switch)."""
    from pyrosm_spark.operators.graph import simplify_directed_chains

    rows = [(1, 1, 2, 1.0), (2, 2, 3, 1.0), (3, 3, 1, 1.0)]
    df = spark.createDataFrame(rows, "id long, u long, v long, "
                                     "length double")
    kept = simplify_directed_chains(df).collect()
    assert len(kept) == 1 and kept[0]["u"] == kept[0]["v"] == 1
    assert kept[0]["n_segments"] == 3
    dropped = simplify_directed_chains(df, remove_rings=True).collect()
    assert dropped == []


# --------------------------------------------------------------------------
# Chain-local grouping (round-3: the walk must never hold a whole weak
# component in one Arrow task)
# --------------------------------------------------------------------------

def test_label_chains_splits_single_weak_component(spark):
    """A star of three chains is ONE weak component but must form
    THREE chain groups — the labeler, not the walk, carries the
    scale guarantee."""
    from pyrosm_spark.operators.graph import label_chains

    # 1-2-3-100, 100-4-5-6, 100-7-8 with hub 100 an endpoint
    rows = [
        (1, 2, False, False), (2, 3, False, False), (3, 100, False, True),
        (100, 4, True, False), (4, 5, False, False), (5, 6, False, True),
        (100, 7, True, False), (7, 8, False, True),
    ]
    seg = spark.createDataFrame(
        rows, "su long, sv long, u_ep boolean, v_ep boolean")
    labeled = label_chains(seg)
    assert labeled.select("chain_id").distinct().count() == 3
    # hub-incident segments of different chains get different labels
    by_pair = {(r["su"], r["sv"]): r["chain_id"] for r in labeled.collect()}
    assert len({by_pair[(3, 100)], by_pair[(100, 4)],
                by_pair[(100, 7)]}) == 3
    # within one chain the label is shared
    assert by_pair[(1, 2)] == by_pair[(2, 3)] == by_pair[(3, 100)]


def test_simplify_star_one_component_three_chains(spark):
    rows = [
        (1, 1, 2, 1.0), (2, 2, 3, 1.0), (3, 3, 100, 1.0),
        (4, 100, 4, 1.0), (5, 4, 5, 1.0), (6, 5, 6, 1.0),
        (7, 100, 7, 1.0), (8, 7, 8, 1.0),
    ]
    e = spark.createDataFrame(rows, "id long, u long, v long, length double")
    assert connected_components(e).select("comp").distinct().count() == 1
    out = simplify_chains(e).collect()
    got = {tuple(sorted((r["u"], r["v"]))): r["length"] for r in out}
    assert got == {(1, 100): 3.0, (6, 100): 3.0, (8, 100): 2.0}


def test_simplify_lollipop_loop_back_to_endpoint(spark):
    """A loop that starts and ends at a forced endpoint must emit
    (ep, ep) — the endpoint flag travels with the segments, it is NOT
    re-derivable from the chain group's local adjacency (inside the
    group the hub looks like a clean degree-2 pass-through)."""
    rows = [
        (9, 1, 2, 1.0),                      # spur making node 1 degree-3
        (10, 1, 3, 1.0), (11, 3, 4, 1.0),    # ring 1-3-4-5-1
        (12, 4, 5, 1.0), (13, 5, 1, 1.0),
    ]
    e = spark.createDataFrame(rows, "id long, u long, v long, length double")
    out = {(r["u"], r["v"]): r for r in simplify_chains(e).collect()}
    assert (1, 1) in out and out[(1, 1)]["n_segments"] == 4
    spur = out.get((1, 2)) or out.get((2, 1))
    assert spur is not None and spur["n_segments"] == 1


def test_scc_auto_dispatch(spark, toy_edges, monkeypatch):
    """Above max_task_edges, scc_components transparently dispatches to
    the distributed path and labels stay identical."""
    import pyrosm_spark.operators.graph as graphmod

    base = {(r["node"], r["comp"])
            for r in scc_components(toy_edges).collect()}
    called = {}
    orig = graphmod.scc_components_distributed

    def spy(*a, **k):
        called["dispatched"] = True
        return orig(*a, **k)

    monkeypatch.setattr(graphmod, "scc_components_distributed", spy)
    got = {(r["node"], r["comp"])
           for r in scc_components(toy_edges, max_task_edges=1).collect()}
    assert called.get("dispatched")
    assert got == base


def test_igraph_pandana_constructor_smoke_with_fake_modules(
        spark, monkeypatch):
    """Execute the final igraph.Graph / pandana.Network constructor
    lines of to_igraph/to_pandana against injected fake modules (the
    real libs are absent in this container), asserting the constructor
    receives exactly the tested frame contracts."""
    import sys
    import types

    from pyrosm_spark.operators.export import to_igraph, to_pandana

    nodes = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 1.0, 0.0), (3, 1.0, 1.0)],
        "id long, lon double, lat double")
    edges = spark.createDataFrame(
        [(10, 1, 2, 5.0), (11, 2, 3, 7.0), (12, 3, 1, 9.0)],
        "id long, u long, v long, length double")

    captured = {}

    fake_ig = types.ModuleType("igraph")

    class _FakeGraph:
        def __init__(self, n, directed, edges, vertex_attrs, edge_attrs):
            captured["igraph"] = dict(
                n=n, directed=directed, edges=edges,
                vertex_attrs=vertex_attrs, edge_attrs=edge_attrs)

    fake_ig.Graph = _FakeGraph
    fake_pd = types.ModuleType("pandana")

    class _FakeNetwork:
        def __init__(self, node_x, node_y, edge_from, edge_to,
                     edge_weights, twoway):
            captured["pandana"] = dict(
                node_x=node_x, node_y=node_y, edge_from=edge_from,
                edge_to=edge_to, edge_weights=edge_weights, twoway=twoway)

    fake_pd.Network = _FakeNetwork
    monkeypatch.setitem(sys.modules, "igraph", fake_ig)
    monkeypatch.setitem(sys.modules, "pandana", fake_pd)

    g = to_igraph(nodes, edges, already_directed=True, retain_all=True)
    assert isinstance(g, _FakeGraph)
    ig = captured["igraph"]
    assert ig["n"] == 3 and ig["directed"] is True
    assert sorted(ig["edges"]) == sorted(ig["edges"])
    assert all(0 <= a < 3 and 0 <= b < 3 for a, b in ig["edges"])
    assert len(ig["vertex_attrs"]["id"]) == 3
    assert len(ig["edge_attrs"]["length"]) == len(ig["edges"]) == 3

    net = to_pandana(nodes, edges, already_directed=True, retain_all=True)
    assert isinstance(net, _FakeNetwork)
    pa = captured["pandana"]
    assert pa["twoway"] is False
    assert sorted(pa["node_x"].tolist()) == [0.0, 1.0, 1.0]
    assert list(pa["edge_weights"].columns) == ["length"]
    assert len(pa["edge_from"]) == 3


# --------------------------------------------------------------------------
# Round-3 review fixes: remove_rings leftover semantics, parallel-segment
# determinism, SCC bound forwarding, streamed union-find finish
# --------------------------------------------------------------------------

def test_remove_rings_leftover_semantics_match_reference(spark):
    """The reference's leftover loop runs ONLY when not remove_rings
    (graph_simplify.py:161-164): remove_rings=True drops EVERY edge
    the endpoint walks could not reach — stranded parallel copies
    through a pass-through included, not just closed rings — while
    remove_rings=False walks and emits them all."""
    from pyrosm_spark.operators.graph import simplify_directed_chains

    # 7->8, 8->7 (x2, parallel), 8->9: node 8 is a clean pass-through
    # under the reference's rule 3 (2 distinct nbrs, in+out=4 — the
    # rule does NOT require in == out); the walk 7->8->9 strands both
    # 8->7 copies as leftovers.
    rows = [(1, 7, 8, 1.0), (2, 8, 7, 1.0), (3, 8, 7, 1.0),
            (4, 8, 9, 1.0)]
    df = spark.createDataFrame(rows, "id long, u long, v long, "
                                     "length double")
    dropped = sorted((r["u"], r["v"], tuple(sorted(r["way_ids"])))
                     for r in simplify_directed_chains(
                         df, remove_rings=True).collect())
    assert dropped == [(7, 9, (1, 4))]
    kept = sorted((r["u"], r["v"], tuple(sorted(r["way_ids"])))
                  for r in simplify_directed_chains(
                      df, remove_rings=False).collect())
    assert (7, 9, (1, 4)) in kept
    assert (8, 7, (2,)) in kept and (8, 7, (3,)) in kept
    assert len(kept) == 3


def test_directed_walk_never_uturns(spark):
    """B->P, A->P and parallel one-ways P->A x2: P is a pass-through
    (2 distinct nbrs, degree 4). The walk entering from A must BREAK
    at P (every out-edge points back at prev), as the reference walk
    does — a U-turn fallback would merge reference-separate chains."""
    from pyrosm_spark.operators.graph import simplify_directed_chains

    A, B, P = 1, 2, 5
    rows = [(11, A, P, 1.0), (12, B, P, 1.0),
            (13, P, A, 1.0), (14, P, A, 1.0)]
    df = spark.createDataFrame(rows, "id long, u long, v long, "
                                     "length double")
    out = sorted((r["u"], r["v"], tuple(sorted(r["way_ids"])))
                 for r in simplify_directed_chains(
                     df, remove_rings=False).collect())
    # reference decomposition: [A->P] (broken at P), [B->P,P->A],
    # leftover [P->A] — never a 2-segment A->...->A U-turn chain
    assert (A, P, (11,)) in out
    assert (B, A, (12, 13)) in out or (B, A, (12, 14)) in out
    assert len(out) == 3
    assert not any(u == A and v == A for u, v, _w in out)


def test_parallel_segments_directed_walk_order_invariant(spark):
    """Parallel directed segments through a pass-through node: the
    segment-to-chain pairing must be a function of the DATA (canonical
    per-chain ordering), not of shuffle row order."""
    from pyrosm_spark.operators.graph import simplify_directed_chains

    rows = [(10, 5, 1, 1.0), (11, 5, 1, 5.0),
            (12, 1, 9, 2.0), (13, 1, 5, 3.0)]
    results = []
    for perm in ([0, 1, 2, 3], [3, 2, 1, 0], [1, 3, 0, 2]):
        df = spark.createDataFrame(
            [rows[i] for i in perm],
            "id long, u long, v long, length double"
        ).repartition(len(perm))
        got = sorted((r["u"], r["v"], r["length"],
                      tuple(sorted(r["way_ids"])))
                     for r in simplify_directed_chains(df).collect())
        results.append(got)
    assert results[0] == results[1] == results[2]


def test_parallel_segments_undirected_walk_order_invariant(spark):
    """Same order-invariance contract for the undirected walk (it had
    no adjacency sorting at all before round 3's canonical order)."""
    rows = [(20, 1, 2, 1.0), (21, 1, 2, 4.0), (22, 2, 3, 2.0)]
    results = []
    for perm in ([0, 1, 2], [2, 1, 0], [1, 2, 0]):
        df = spark.createDataFrame(
            [rows[i] for i in perm],
            "id long, u long, v long, length double"
        ).repartition(3)
        got = sorted((r["u"], r["v"], r["length"],
                      tuple(sorted(r["way_ids"])))
                     for r in simplify_chains(df).collect())
        results.append(got)
    assert results[0] == results[1] == results[2]


def test_scc_prop_round_bounds_forwarded(spark):
    """scc_components must forward max_prop_rounds to the distributed
    path when auto-dispatch takes it: a directed ring's coloring needs
    O(diameter) rounds, so a too-small bound raises (never mislabels),
    and the default succeeds on the same input."""
    n = 12
    rows = [(i, i, (i + 1) % n, 1.0) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, u long, v long, "
                                     "length double")
    with pytest.raises(RuntimeError, match="max_prop_rounds"):
        scc_components(df, max_task_edges=1, max_prop_rounds=3).collect()
    got = scc_components(df, max_task_edges=1).collect()
    assert {r["comp"] for r in got} == {0}
    assert len(got) == n


def test_connected_components_streamed_finish(spark, toy_edges):
    """With max_driver_edges=0 every level over-caps, recursion bottoms
    out, and the finish streams via toLocalIterator — labels must match
    the default collect() path exactly."""
    want = sorted((r["node"], r["comp"]) for r in
                  connected_components(toy_edges).collect())
    got = sorted((r["node"], r["comp"]) for r in
                 connected_components(
                     toy_edges, max_driver_edges=0).collect())
    assert got == want


def test_connected_components_string_ids(spark):
    """Component labels follow the node-id TYPE: string ids (phash /
    near-dup image pair sets) must work end-to-end, including the
    driver union-find residual mapping (previously hardcoded
    'comp long, root long')."""
    pairs = spark.createDataFrame(
        [(f"img{i:04d}", f"img{i + 1:04d}") for i in range(0, 200)]
        + [("solo_a", "solo_b")],
        "a string, b string")
    cc = connected_components(pairs, "a", "b")
    rows = cc.collect()
    comps = {r["comp"] for r in rows}
    assert comps == {"img0000", "solo_a"}
    assert len(rows) == 203
    # distributed SCC on string ids: small directed cycle + tail
    cyc = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("z", "x"), ("z", "tail")],
        "a string, b string")
    scc = scc_components_distributed(cyc, "a", "b")
    got = {r["node"]: r["comp"] for r in scc.collect()}
    assert got == {"x": "x", "y": "x", "z": "x", "tail": "tail"}
    assert scc.schema["comp"].dataType.simpleString() == "string"


# ---------------------------------------------------------------------
# X4 fallback — pure-Python igraph/pandana stand-ins (graph_lite)
# ---------------------------------------------------------------------


def test_lite_graph_structure_and_routing():
    """LiteGraph implements the igraph API subset the reference's docs
    exercise on exported graphs: attribute sequences, degrees,
    components, weighted shortest paths — all hand-checkable on a
    5-vertex digraph."""
    from pyrosm_spark.operators.graph_lite import LiteGraph

    # 0->1 (1.0), 1->2 (2.0), 0->2 (5.0), 2->0 (1.0), 3->4 (1.0)
    g = LiteGraph(
        n=5, directed=True,
        edges=[(0, 1), (1, 2), (0, 2), (2, 0), (3, 4)],
        vertex_attrs={"id": [100, 200, 300, 400, 500]},
        edge_attrs={"length": [1.0, 2.0, 5.0, 1.0, 1.0]})
    assert g.vcount() == 5 and g.ecount() == 5 and g.is_directed()
    assert g.vs["id"] == [100, 200, 300, 400, 500]
    assert g.vs[2]["id"] == 300 and g.vs[2].index == 2
    assert g.es.attributes() == ["length"]
    assert g.degree(mode="out") == [2, 1, 1, 1, 0]
    assert g.degree(mode="in") == [1, 1, 2, 0, 1]
    assert g.degree(mode="all") == [3, 2, 3, 1, 1]
    assert sorted(g.neighbors(0, mode="out")) == [1, 2]
    # weak components: {0,1,2} and {3,4}
    weak = g.connected_components("weak")
    assert len(weak) == 2 and sorted(weak.sizes()) == [2, 3]
    assert sorted(weak.giant()) == [0, 1, 2]
    # strong components: {0,1,2} is a cycle; 3 and 4 are singletons
    strong = g.connected_components("strong")
    assert len(strong) == 3 and sorted(strong.sizes()) == [1, 1, 3]
    # weighted shortest path 0->2 goes via 1 (1+2=3 < 5 direct)
    assert g.distances(0, 2, weights="length") == [[3.0]]
    assert g.get_shortest_paths(0, to=2, weights="length") == [[0, 1, 2]]
    # unweighted (hop) distance prefers the direct edge
    assert g.get_shortest_paths(0, to=2) == [[0, 2]]
    # unreachable across weak components
    assert g.distances(0, 3) == [[float("inf")]]
    assert g.get_shortest_paths(0, to=3) == [[]]


def test_lite_graph_matches_networkx_dijkstra():
    """Differential check of LiteGraph's Dijkstra against networkx on
    a deterministic random digraph (30 vertices, 120 weighted edges)."""
    import random

    import networkx as nx

    from pyrosm_spark.operators.graph_lite import LiteGraph

    rng = random.Random(42)
    n = 30
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(120)]
    weights = [round(rng.uniform(0.1, 9.9), 3) for _ in edges]
    g = LiteGraph(n=n, directed=True, edges=edges,
                  edge_attrs={"w": weights})
    nxg = nx.DiGraph()
    nxg.add_nodes_from(range(n))
    for (u, v), w in zip(edges, weights):
        # DiGraph keeps the min parallel edge — same as Dijkstra sees
        if not nxg.has_edge(u, v) or nxg[u][v]["w"] > w:
            nxg.add_edge(u, v, w=w)
    for src in (0, 7, 19):
        expect = nx.single_source_dijkstra_path_length(nxg, src,
                                                       weight="w")
        got = g.distances(src, weights="w")[0]
        for t in range(n):
            if t in expect:
                assert abs(got[t] - expect[t]) < 1e-9, (src, t)
            else:
                assert got[t] == float("inf"), (src, t)


def test_lite_network_routing_and_node_mapping():
    """LiteNetwork implements pandana's routing subset: directed
    shortest paths by impedance column plus nearest-node mapping."""
    import pandas as pd
    import pytest as _pt

    from pyrosm_spark.operators.graph_lite import LiteNetwork

    node_x = pd.Series([0.0, 1.0, 2.0], index=[10, 20, 30])
    node_y = pd.Series([0.0, 0.0, 0.0], index=[10, 20, 30])
    epd = pd.DataFrame({
        "u": [10, 20, 10], "v": [20, 30, 30],
        "length": [1.0, 1.0, 5.0], "time": [9.0, 9.0, 1.0]})
    net = LiteNetwork(node_x, node_y, epd["u"], epd["v"],
                      epd[["length", "time"]], twoway=False)
    assert net.impedance_names == ["length", "time"]
    # by length: 10->30 via 20 (2.0); by time: direct (1.0)
    assert net.shortest_path(10, 30, imp_name="length") == [10, 20, 30]
    assert net.shortest_path_length(10, 30, "length") == 2.0
    assert net.shortest_path(10, 30, imp_name="time") == [10, 30]
    assert net.shortest_path_length(10, 30, "time") == 1.0
    # directed: no 30->10 path
    assert net.shortest_path(30, 10) == []
    assert net.shortest_path_length(30, 10) == float("inf")
    assert net.shortest_path_lengths([10, 10], [20, 30]) == [1.0, 2.0]
    got = net.get_node_ids(pd.Series([0.1, 1.9]), pd.Series([0.0, 0.1]))
    assert got.tolist() == [10, 30]
    far = net.get_node_ids(pd.Series([50.0]), pd.Series([50.0]),
                           mapping_distance=1.0)
    assert far.tolist() == [-1]
    with _pt.raises(ValueError):
        LiteNetwork(node_x, node_y, epd["u"], epd["v"],
                    epd[[]], twoway=False)


def test_to_igraph_pandana_fallback_end_to_end(spark, synth_dir):
    """fallback=True runs the identical distributed pipeline + frame
    contracts and returns the lite objects where the C runtimes are
    absent; cross-checked against the networkx export of the same
    network (same vertex/edge counts, same weighted eccentricity from
    one seed node)."""
    import networkx as nx
    import pytest as _pt

    from pyrosm_spark.operators.export import (to_igraph, to_networkx,
                                               to_pandana)
    from pyrosm_spark.operators.graph_lite import LiteGraph, LiteNetwork
    from pyrosm_spark.operators.network import get_network
    from pyrosm_spark.operators.osm_source import load_osm

    try:
        import igraph  # noqa: F401
        _pt.skip("real igraph present; fallback path not live")
    except ImportError:
        pass
    nodes, ways, _ = load_osm(spark, synth_dir)
    gnodes, edges = get_network(nodes, ways, "driving", with_nodes=True)
    g = to_igraph(gnodes, edges, fallback=True)
    assert isinstance(g, LiteGraph)
    nxg = to_networkx(gnodes, edges, osmnx_compatible=False)
    assert g.vcount() == nxg.number_of_nodes()
    assert g.ecount() == nxg.number_of_edges()
    # weighted single-source distances agree with networkx on the
    # networkx graph's own node labels (vs LiteGraph's seq ids)
    seq_of = {nid: i for i, nid in enumerate(g.vs["id"])}
    src_label = g.vs["id"][0]
    expect = nx.single_source_dijkstra_path_length(
        nxg, src_label, weight="length")
    got = g.distances(seq_of[src_label], weights="length")[0]
    hits = 0
    for label, d in expect.items():
        assert abs(got[seq_of[label]] - d) < 1e-6, label
        hits += 1
    assert hits == sum(1 for x in got if x != float("inf"))
    net = to_pandana(gnodes, edges, fallback=True)
    assert isinstance(net, LiteNetwork)
    # pandana network routes on original node ids with the same lengths
    reach = [t for t in expect if t != src_label][:5]
    for t in reach:
        assert abs(net.shortest_path_length(src_label, t, "length")
                   - expect[t]) < 1e-6


def test_cc_recursion_keeps_every_level_pinned(spark, monkeypatch):
    """contraction_rounds=0 on a graph over max_driver_edges recurses
    with the outer labels un-checkpointed, so the final
    labels.join(mapping) reads the outer undirected-edge pin. A
    recursive call must not release it: every level's pin is still
    live when the final join runs, and the components equal
    networkx's."""
    nx = pytest.importorskip("networkx")
    from pyrosm_spark.operators import spatial_join as SJ

    pinned = []
    real_pin = SJ._pin

    def recording_pin(tag, df):
        out = real_pin(tag, df)
        pinned.append(out)
        return out

    monkeypatch.setattr(SJ, "_pin", recording_pin)
    rng = np.random.default_rng(11)
    rows = [(int(a), int(b)) for a, b in rng.integers(0, 40, (30, 2))]
    df = spark.createDataFrame(rows, "u long, v long")
    out = connected_components(df, contraction_rounds=0,
                               max_driver_edges=8)
    assert len(pinned) >= 2, "no recursion happened"
    assert all(p.storageLevel.useMemory or p.storageLevel.useDisk
               for p in pinned), "a recursion level released a pin"
    got = {r["node"]: r["comp"] for r in out.collect()}
    g = nx.Graph()
    g.add_edges_from(rows)
    exp = {n: min(c) for c in nx.connected_components(g) for n in c}
    assert got == exp
