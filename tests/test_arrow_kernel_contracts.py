"""Direct contract tests for the remaining Arrow-batch kernels.

Round-3 lesson generalized (see test_way_wkb_kernel_contract.py): a
kernel that is only ever reached through layer queries can break while
the suite stays green, because Catalyst prunes unprojected UDFs out of
the plan. Every module-level pandas UDF therefore gets called here as
a plain function (``.func``) on adversarial batches — None rows, empty
batches, degenerate shapes — with no SparkSession, in seconds.

Reference parity anchors: geometry.pyx:404-620 (way/point kernels),
geometry.pyx:195-275 (relation multipolygon / multilinestring).
"""
import numpy as np
import pandas as pd

from pyrosm_spark.functions import geometry_np as G
from pyrosm_spark.operators.geometry import (
    point_geometry_wkb,
    segment_geometry_wkb,
)
from pyrosm_spark.operators.relations import relation_geometry_wkb
from pyrosm_spark.operators.spatial_join import (
    point_in_wkb_polygon,
    wkb_bbox,
    wkb_segment_sets,
)


def _ls(*pts):
    return G.wkb_linestring(np.asarray(pts, dtype=np.float64))


SQUARE = [(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]
SQUARE_WKB = G.wkb_polygon([np.asarray(SQUARE, dtype=np.float64)])


# -- point / segment WKB ----------------------------------------------------

def test_point_wkb_values_and_empty_batch():
    out = point_geometry_wkb.func(pd.Series([24.9, -179.0]),
                                  pd.Series([60.2, -89.0]))
    assert list(out[0]) == list(G.wkb_point(24.9, 60.2))
    assert list(out[1]) == list(G.wkb_point(-179.0, -89.0))
    empty = point_geometry_wkb.func(pd.Series([], dtype=float),
                                    pd.Series([], dtype=float))
    assert len(empty) == 0


def test_segment_wkb_values_and_empty_batch():
    out = segment_geometry_wkb.func(
        pd.Series([1.0]), pd.Series([2.0]), pd.Series([3.0]),
        pd.Series([4.0]))
    gtype, coords = G.parse_wkb(bytes(out[0]))
    assert gtype == G.WKB_LINESTRING
    np.testing.assert_array_equal(coords, [[1.0, 2.0], [3.0, 4.0]])
    empty = segment_geometry_wkb.func(*[pd.Series([], dtype=float)] * 4)
    assert len(empty) == 0


# -- relation assembly kernel (G6) ------------------------------------------

def _rel(rows):
    members = pd.Series([r[0] for r in rows], dtype=object)
    force = pd.Series([r[1] for r in rows])
    out = relation_geometry_wkb.func(members, force)
    assert len(out) == len(rows)
    return list(out)


def test_relation_square_ring_assembles_multipolygon():
    # two open halves that line_merge into one closed square ring
    half1 = _ls((0, 0), (4, 0), (4, 4))
    half2 = _ls((4, 4), (0, 4), (0, 0))
    out = _rel([([half1, half2], False)])
    gtype, polys = G.parse_wkb(bytes(out[0]))
    assert gtype == G.WKB_MULTIPOLYGON
    assert len(polys) == 1 and len(polys[0]) == 1  # one shell, no holes


def test_relation_hole_is_even_odd_nested():
    shell = _ls(*SQUARE)
    hole = _ls((1, 1), (2, 1), (2, 2), (1, 2), (1, 1))
    out = _rel([([shell, hole], False)])
    gtype, polys = G.parse_wkb(bytes(out[0]))
    assert gtype == G.WKB_MULTIPOLYGON
    assert len(polys) == 1 and len(polys[0]) == 2  # shell + hole rings


def test_relation_unringable_members_yield_none():
    dangling = _ls((0, 0), (9, 9))  # can never close
    out = _rel([([dangling], False)])
    assert out == [None]


def test_relation_null_and_empty_members_in_mixed_batch():
    shell = _ls(*SQUARE)
    out = _rel([
        (None, False),              # NULL member array
        ([None, None], False),      # members present but all NULL
        ([], False),                # empty member array
        ([shell], False),           # valid, middle of the batch
        (None, True),               # NULL + force_linestring
    ])
    assert out[0] is None and out[1] is None and out[2] is None
    assert out[4] is None
    gtype, _ = G.parse_wkb(bytes(out[3]))
    assert gtype == G.WKB_MULTIPOLYGON


def test_relation_force_linestring_merges_route():
    a = _ls((0, 0), (1, 0))
    b = _ls((1, 0), (2, 0))
    out = _rel([([a, b], True)])
    gtype, lines = G.parse_wkb(bytes(out[0]))
    assert gtype == G.WKB_MULTILINESTRING
    assert len(lines) == 1
    np.testing.assert_array_equal(lines[0], [[0, 0], [1, 0], [2, 0]])


def test_relation_empty_batch():
    out = relation_geometry_wkb.func(pd.Series([], dtype=object),
                                     pd.Series([], dtype=bool))
    assert len(out) == 0


# -- spatial-join kernels ----------------------------------------------------

def test_wkb_bbox_shapes_and_nulls():
    out = wkb_bbox.func(pd.Series(
        [None, G.wkb_point(5.0, 6.0), _ls((0, 0), (2, 3)), SQUARE_WKB],
        dtype=object))
    assert out.iloc[0]["xmin"] is None or pd.isna(out.iloc[0]["xmin"])
    assert tuple(out.iloc[1]) == (5.0, 6.0, 5.0, 6.0)
    assert tuple(out.iloc[2]) == (0.0, 0.0, 2.0, 3.0)
    assert tuple(out.iloc[3]) == (0.0, 0.0, 4.0, 4.0)
    empty = wkb_bbox.func(pd.Series([], dtype=object))
    assert len(empty) == 0


def test_point_in_wkb_polygon_refine():
    geoms = pd.Series([SQUARE_WKB, SQUARE_WKB, None,
                       G.wkb_point(0.0, 0.0)], dtype=object)
    out = point_in_wkb_polygon.func(
        pd.Series([2.0, 9.0, 2.0, 2.0]), pd.Series([2.0, 9.0, 2.0, 2.0]),
        geoms)
    # inside, outside, NULL geometry -> False, non-polygon -> False
    assert list(out) == [True, False, False, False]
    empty = point_in_wkb_polygon.func(
        pd.Series([], dtype=float), pd.Series([], dtype=float),
        pd.Series([], dtype=object))
    assert len(empty) == 0


def test_wkb_segment_sets_polygon_and_multipolygon():
    hole = np.asarray([(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)],
                      dtype=np.float64)
    poly_with_hole = G.wkb_polygon(
        [np.asarray(SQUARE, dtype=np.float64), hole])
    mp = G.wkb_multipolygon([[np.asarray(SQUARE, dtype=np.float64)],
                             [hole]])
    out = wkb_segment_sets.func(pd.Series(
        [None, G.wkb_point(1.0, 1.0), poly_with_hole, mp], dtype=object))
    assert out[0] is None          # NULL in
    assert out[1] is None          # non-polygon type
    # polygon-with-hole: ONE part whose flat edge list spans both rings
    assert len(out[2]) == 1 and len(out[2][0]) == 8
    # multipolygon: one part per member polygon
    assert len(out[3]) == 2 and len(out[3][0]) == 4 and len(out[3][1]) == 4
    assert len(wkb_segment_sets.func(pd.Series([], dtype=object))) == 0

