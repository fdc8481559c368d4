"""Unit tests for the pure-python/numpy kernels (no Spark session)."""

import re

import numpy as np
import pytest

from pyrosm_spark.functions import geometry_np as G
from pyrosm_spark.functions import image_np as I
from pyrosm_spark.functions import tiles as T
from pyrosm_spark.functions.filters import (
    CompiledFilter,
    Condition,
    compile_custom_filter,
    ensure_filter_key,
    parse_bracket_filter,
)


# ---------------------------------------------------------------- filters

def test_bracket_parser_and_group():
    groups = parse_bracket_filter('["highway"~"path"]["bicycle"~"designated"]')
    assert len(groups) == 1 and len(groups[0]) == 2
    cf = CompiledFilter(groups)
    assert cf.matches({"highway": "path", "bicycle": "designated"})
    assert not cf.matches({"highway": "path"})
    assert cf.positive_keys == ["bicycle", "highway"]


def test_bracket_parser_forms():
    groups = parse_bracket_filter(['["building"]', '[!"demolished"]["shop"="bakery"]'])
    cf = CompiledFilter(groups)
    assert cf.matches({"building": "yes"})
    assert cf.matches({"shop": "bakery"})
    assert not cf.matches({"shop": "bakery", "demolished": "yes"})
    # negative-only filter rejected
    with pytest.raises(ValueError):
        parse_bracket_filter('[!"building"]')
    # key-regex rejected
    with pytest.raises(ValueError):
        parse_bracket_filter('[~"^addr"~"."]')


def test_bracket_ignorecase_flag():
    (group,) = parse_bracket_filter('["name"~"kirkko",i]')
    cf = CompiledFilter((group,))
    assert cf.matches({"name": "Tuomiokirkko"}) is False or True  # lowercase ok
    assert cf.matches({"name": "KIRKKOKATU"})


def test_negative_ops_satisfied_when_key_absent():
    cf = CompiledFilter(parse_bracket_filter('["highway"]["bicycle"!="no"]'))
    assert cf.matches({"highway": "residential"})  # no bicycle tag -> kept
    assert not cf.matches({"highway": "residential", "bicycle": "no"})


def test_regex_dict_compiles():
    cf = compile_custom_filter({"ref": [re.compile(r"I[ -]?20")]})
    assert isinstance(cf, CompiledFilter)
    assert cf.matches({"ref": "I 20"})
    assert cf.matches({"ref": "I-20"})
    assert not cf.matches({"ref": "E75"})


def test_plain_dict_passthrough_and_normalize():
    cf = compile_custom_filter({"building": True, "shop": "bakery"})
    assert cf == {"building": True, "shop": ["bakery"]}
    cf2 = ensure_filter_key({"amenity": ["cafe"]}, "building")
    assert cf2["building"] is True


# ---------------------------------------------------------------- tiles

def test_tile_roundtrip_and_hierarchy():
    for lon, lat, res in [(24.93, 60.17, 15), (-179.9, -89.9, 9), (0, 0, 0),
                          (179.99, 89.99, 20)]:
        c = T.encode_py(lon, lat, res)
        r, x, y = T.decode_py(c)
        assert r == res
        lon0, lat0, lon1, lat1 = T.cell_bounds_py(c)
        assert lon0 <= lon <= lon1 + 1e-9 and lat0 <= lat <= lat1 + 1e-9
    child = T.encode_py(24.93, 60.17, 15)
    parent = T.encode_py(24.93, 60.17, 12)
    r, x, y = T.decode_py(child)
    assert T.decode_py(parent)[1] == x >> 3


def test_compact_uncompact():
    cells = T.bbox_cover_py(24.7, 60.15, 24.9, 60.25, 10)
    compacted = T.compact_py(cells)
    assert len(compacted) <= len(cells)
    assert set(T.uncompact_py(compacted, 10)) == set(cells)


def test_neighbors():
    c = T.encode_py(24.9, 60.2, 12)
    ring = T.neighbors_py(c, 1)
    assert len(ring) == 9 and c in ring


# ---------------------------------------------------------------- geometry

def _square(cx, cy, r):
    return np.array(
        [[cx - r, cy - r], [cx + r, cy - r], [cx + r, cy + r],
         [cx - r, cy + r], [cx - r, cy - r]]
    )


def test_wkb_roundtrip():
    ls = np.array([[0.0, 0.0], [1.0, 2.0], [3.0, 1.0]])
    t, coords = G.parse_wkb(G.wkb_linestring(ls))
    assert t == G.WKB_LINESTRING and np.allclose(coords, ls)
    poly = G.wkb_polygon([_square(0, 0, 2), _square(0, 0, 1)])
    t, rings = G.parse_wkb(poly)
    assert t == G.WKB_POLYGON and len(rings) == 2
    t, pt = G.parse_wkb(G.wkb_point(24.9, 60.2))
    assert t == G.WKB_POINT and pt == (24.9, 60.2)


def test_point_in_polygon_with_hole():
    shell, hole = _square(0, 0, 2), _square(0, 0, 0.5)
    px = np.array([0.0, 1.0, 3.0, 0.2])
    py = np.array([0.0, 1.0, 0.0, 0.0])
    inside = G.points_in_polygon(px, py, [shell, hole])
    assert inside.tolist() == [False, True, False, False]  # center is in hole


def test_line_merge_stitches_ring():
    sq = _square(0, 0, 1)
    parts = [sq[0:3], sq[2:5]]  # two open pieces of one ring
    merged = G.line_merge(parts)
    assert len(merged) == 1 and G.is_closed_ring(merged[0])


def test_assemble_multipolygon_island_in_hole():
    outer, hole, island = _square(0, 0, 4), _square(0, 0, 2), _square(0, 0, 1)
    polys = G.assemble_multipolygon([outer, hole, island])
    assert polys is not None and len(polys) == 2
    # shell count: outer (with hole) + island
    n_rings = sorted(len(p) for p in polys)
    assert n_rings == [1, 2]
    # orientation: shells CCW, holes CW
    for rings in polys:
        assert G.signed_area(rings[0]) > 0
        for h in rings[1:]:
            assert G.signed_area(h) < 0


def test_assemble_drops_open_rings():
    open_line = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0]])
    assert G.assemble_multipolygon([open_line]) is None


def test_haversine_reference_value():
    # Helsinki -> Tampere ~ 160 km
    d = G.haversine_m_np(60.17, 24.94, 61.50, 23.76)
    assert 155_000 < d < 165_000


# ---------------------------------------------------------------- images

def test_png_roundtrip_lossless():
    px = I.synth_pixels(123, 16, 24)
    assert px.shape == (24, 16, 3)
    out = I.decode_png(I.encode_png(px))
    assert np.array_equal(out, px)
    assert I.psnr(px, out) == float("inf")


def test_qimg_lossy_psnr_over_40():
    px = I.synth_pixels(9, 32, 16)
    out = I.decode_qimg(I.encode_qimg(px))
    assert out.shape == px.shape
    p = I.psnr(px, out)
    assert p >= 40.0, p


def test_jpeg_stub_raises():
    with pytest.raises(NotImplementedError):
        I.decode_image(b"\xff\xd8\xff", "jpeg")


def test_interlaced_png_rejected_explicitly():
    """A standards-compliant Adam7 PNG must fail with the explicit
    unsupported-feature ValueError, not an opaque reshape error."""
    buf = bytearray(I.encode_png(I.synth_pixels(3, 8, 8)))
    # IHDR payload: sig(8) + len(4) + tag(4) + 12 bytes -> interlace
    # byte is the 13th payload byte at offset 8 + 8 + 12
    assert buf[8 + 8 + 12] == 0
    buf[8 + 8 + 12] = 1
    with pytest.raises(ValueError, match="interlace"):
        I.decode_png(bytes(buf))


def test_phash_deterministic_and_distinct():
    a = I.phash64(I.synth_pixels(1, 16, 16))
    b = I.phash64(I.synth_pixels(1, 16, 16))
    c = I.phash64(I.synth_pixels(2, 16, 16))
    assert a == b
    assert I.hamming64(a, c) > 0


# ------------------------------------------------- advice regressions (r2)

def test_way_geometry_wkb_null_pts_yields_none(spark):
    """A NULL pts array (no resolvable refs) must yield a NULL
    geometry, not crash the kernel — the public way_geometry_wkb
    contract does not require callers to pre-filter pts_size() >= 2."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T2

    from pyrosm_spark.operators import geometry as geom

    pts_t = T2.ArrayType(T2.StructType([
        T2.StructField("pos", T2.IntegerType()),
        T2.StructField("ref", T2.LongType()),
        T2.StructField("lon", T2.DoubleType()),
        T2.StructField("lat", T2.DoubleType()),
    ]))
    rows = [
        (1, None),
        (2, []),
        (3, [(0, 10, 0.0, 0.0)]),
        (4, [(0, 10, 0.0, 0.0), (1, 11, 1.0, 1.0)]),
    ]
    df = spark.createDataFrame(
        rows, T2.StructType([T2.StructField("id", T2.LongType()),
                             T2.StructField("pts", pts_t)]))
    out = {r["id"]: r["g"] for r in df.select(
        "id", geom.way_geometry_wkb(F.col("pts"), F.lit(False)).alias("g")
    ).collect()}
    assert out[1] is None and out[2] is None and out[3] is None
    assert out[4] is not None


def test_way_geometry_closed_3pt_ring_padded(spark):
    """A closed 3-point ring ([A, B, A] — e.g. a way whose missing ref
    collapsed it) must still BUILD, padded to the 4-point WKB minimum:
    the reference's own fixture goldens (2208 buildings on
    test.osm.pbf) count such slivers, so dropping them breaks
    test_reference_parity. An unclosed 3-point way closes to 4."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T2

    from pyrosm_spark.operators import geometry as geom

    pts_t = T2.ArrayType(T2.StructType([
        T2.StructField("pos", T2.IntegerType()),
        T2.StructField("ref", T2.LongType()),
        T2.StructField("lon", T2.DoubleType()),
        T2.StructField("lat", T2.DoubleType()),
    ]))
    rows = [
        # closed sliver: A, B, back to A -> dropped
        (1, [(0, 10, 0.0, 0.0), (1, 11, 1.0, 0.5), (2, 10, 0.0, 0.0)]),
        # open triangle: closes to 4 points -> built
        (2, [(0, 10, 0.0, 0.0), (1, 11, 1.0, 0.0), (2, 12, 0.5, 1.0)]),
        # closed quad: 4 points incl. closure -> built
        (3, [(0, 10, 0.0, 0.0), (1, 11, 1.0, 0.0), (2, 12, 0.5, 1.0),
             (3, 10, 0.0, 0.0)]),
    ]
    df = spark.createDataFrame(
        rows, T2.StructType([T2.StructField("id", T2.LongType()),
                             T2.StructField("pts", pts_t)]))
    out = {r["id"]: r["g"] for r in df.select(
        "id", geom.way_geometry_wkb(F.col("pts"), F.lit(True)).alias("g")
    ).collect()}
    # all three build; every ring meets the 4-point WKB minimum
    import struct as _struct
    for i in (1, 2, 3):
        assert out[i] is not None
        assert _struct.unpack("<I", out[i][9:13])[0] == 4


def test_infer_format_write_path_extension(tmp_path):
    """A not-yet-existing location with a data-file extension is a
    path, never an Iceberg identifier (write_table('out.parquet'))."""
    from pyrosm_spark.sources.table import _infer_format

    assert _infer_format("out.parquet") == "parquet"
    assert _infer_format(str(tmp_path / "new" / "t.parquet")) == "parquet"
    assert _infer_format("cat.db.tbl") == "iceberg"


# ------------------------------------------------- G7 fix ladder (r2)

def _fig8():
    """Figure-eight bowtie: edges (0,0)-(2,2) and (2,0)-(0,2) cross at
    (1,1); lobes are the two triangles."""
    return np.array([[0.0, 0.0], [2.0, 2.0], [0.0, 2.0],
                     [2.0, 0.0], [0.0, 0.0]])


def test_ring_simple_detection():
    square = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], float)
    assert G.ring_is_simple(square)
    assert not G.ring_is_simple(_fig8())


def test_bowtie_polygonize_two_lobes():
    parts = G.fix_ring(_fig8())
    assert len(parts) == 2
    areas = sorted(abs(G.signed_area(p)) for p in parts)
    # each lobe is a triangle of area 1 (base 2, height 1)
    assert areas == pytest.approx([1.0, 1.0])
    for p in parts:
        assert G.ring_is_simple(p)


def test_self_touching_ring_splits_at_repeated_vertex():
    # two squares sharing the vertex (1,1) traversed as ONE ring
    ring = np.array([[0, 0], [1, 0], [1, 1], [2, 1], [2, 2], [1, 2],
                     [1, 1], [0, 1], [0, 0]], float)
    parts = G.fix_ring(ring)
    assert len(parts) == 2
    areas = sorted(abs(G.signed_area(p)) for p in parts)
    assert areas == pytest.approx([1.0, 1.0])


def test_fix_ring_passthrough_when_simple():
    square = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], float)
    out = G.fix_ring(square)
    assert len(out) == 1 and np.array_equal(out[0], square)


def test_assemble_multipolygon_repairs_bowtie_member():
    """A relation whose outer ring is a bowtie assembles into TWO
    shells (the repaired lobes) instead of one invalid polygon —
    reference geometry.pyx:215-217,238-239 repair semantics."""
    polys = G.assemble_multipolygon([_fig8()])
    assert polys is not None and len(polys) == 2
    # a point in each lobe (top / bottom triangle) must be inside
    rings = [r for p in polys for r in p]
    top = G.points_in_polygon(np.array([1.0]), np.array([1.5]), rings)
    bot = G.points_in_polygon(np.array([1.0]), np.array([0.5]), rings)
    out = G.points_in_polygon(np.array([0.2]), np.array([1.0]), rings)
    assert bool(top[0]) and bool(bot[0]) and not bool(out[0])


def test_fix_ring_area_sanity_keeps_original():
    """If polygonize yields a wildly different area (forced via a tiny
    threshold), the original invalid ring passes through unchanged —
    fix_geometry's final fallback."""
    out = G.fix_ring(_fig8(), diff_threshold=1e-12)
    assert len(out) == 1 and np.array_equal(out[0], _fig8())


# --------------------------------------------- validators (r2, utils port)

def test_validate_custom_filter_semantics():
    """Reference utils/__init__.py:16-74 + tests/test_validators.py:
    plain-dict type checks, True coercion, advanced-form passthrough."""
    import re as _re

    from pyrosm_spark.functions.validators import validate_custom_filter

    assert validate_custom_filter(None) is None
    # True coerces to [True]
    assert validate_custom_filter({"building": True}) == {"building": [True]}
    # advanced forms pass through for the compiler to validate
    adv = '["highway"~"path"]'
    assert validate_custom_filter(adv) == adv
    rx = {"highway": [_re.compile("foot")]}
    assert validate_custom_filter(rx) == rx
    with pytest.raises(ValueError):
        validate_custom_filter(42)
    with pytest.raises(ValueError, match="should be string"):
        validate_custom_filter({1: ["x"]})
    with pytest.raises(ValueError):
        validate_custom_filter({"highway": "path"})  # bare string value
    with pytest.raises(ValueError):
        validate_custom_filter({"highway": [3.14]})


def test_validate_misc_inputs():
    from pyrosm_spark.functions.validators import (
        validate_booleans,
        validate_boundary_type,
        validate_graph_type,
        validate_osm_keys,
        validate_tags_as_columns,
    )

    with pytest.raises(ValueError):
        validate_osm_keys(42)
    assert validate_osm_keys("highway") == "highway"
    with pytest.raises(ValueError):
        validate_tags_as_columns("building")
    with pytest.raises(ValueError):
        validate_tags_as_columns(["building", 7])
    with pytest.raises(ValueError):
        validate_booleans(True, False, "x")
    with pytest.raises(ValueError, match="At least"):
        validate_booleans(False, False, False)
    assert validate_boundary_type(" Administrative ") == "administrative"
    with pytest.raises(ValueError):
        validate_boundary_type("township")
    with pytest.raises(ValueError):
        validate_boundary_type(3)
    assert validate_graph_type("NetworkX") == "networkx"
    with pytest.raises(ValueError):
        validate_graph_type("nx")
    with pytest.raises(ValueError):
        validate_graph_type(7)


# ------------------------------------- advanced-filter semantics (r2 port)

def test_bracket_all_operators():
    """Reference tests/test_advanced_filter.py:74-94 — all six bracket
    operators, with negative ops satisfied when the key is absent."""
    eq = CompiledFilter(parse_bracket_filter('["a"="x"]'))
    assert eq.matches({"a": "x"}) and not eq.matches({"a": "y"})
    ne = CompiledFilter(parse_bracket_filter('["k"]["a"!="x"]'))
    assert ne.matches({"k": "1"})
    assert not ne.matches({"k": "1", "a": "x"})
    assert ne.matches({"k": "1", "a": "y"})
    rx = CompiledFilter(parse_bracket_filter('["a"~"^foo"]'))
    assert rx.matches({"a": "foobar"}) and not rx.matches({"a": "barfoo"})
    nrx = CompiledFilter(parse_bracket_filter('["k"]["a"!~"^foo"]'))
    assert nrx.matches({"k": "1"})
    assert not nrx.matches({"k": "1", "a": "foobar"})
    ex = CompiledFilter(parse_bracket_filter('["a"]'))
    assert ex.matches({"a": ""}) and not ex.matches({"b": "1"})
    nex = CompiledFilter(parse_bracket_filter('["k"][!"a"]'))
    assert nex.matches({"k": "1"})
    assert not nex.matches({"k": "1", "a": "x"})


def test_bracket_whitespace_and_quote_aware():
    f = CompiledFilter(parse_bracket_filter(' ["a"="x"]  ["b"~"y"] '))
    assert f.matches({"a": "x", "b": "yy"})
    # a ] inside a quoted value must not end the bracket early
    g = CompiledFilter(parse_bracket_filter('["name"~"a]b"]'))
    assert g.matches({"name": "xa]by"})


def test_regex_dict_mixes_true_str_and_regex():
    f = compile_custom_filter(
        {"building": True, "shop": [True], "name": ["Foo"],
         "ref": [re.compile("A1")]})
    assert isinstance(f, CompiledFilter)
    assert f.matches({"building": "yes"})
    assert f.matches({"shop": "kiosk"})
    assert f.matches({"name": "Foo"})
    assert f.matches({"ref": "A1 road"})
    assert not f.matches({"highway": "primary"})


def test_regex_matches_semicolon_joined_value(spark):
    """#116 end-to-end over Spark: a regex value substring-matches a
    ;-joined multi-value tag, which a literal exact-match misses."""
    from pyspark.sql import functions as F

    from pyrosm_spark.functions.filters import element_filter_column

    df = spark.createDataFrame(
        [(1, {"surface": "paved;cobblestone"}),
         (2, {"surface": "cobblestone"}),
         (3, {"surface": "paved"})],
        "id long, tags map<string,string>")
    rx = {r["id"] for r in df.filter(element_filter_column(
        F.col("tags"), {"surface": [re.compile("cobblestone")]})).collect()}
    lit = {r["id"] for r in df.filter(element_filter_column(
        F.col("tags"), {"surface": ["cobblestone"]})).collect()}
    assert rx == {1, 2}
    assert lit == {2}


def test_regex_value_union_equals_literal_union(spark):
    """#116 — a regex alternation equals the literal-list union."""
    from pyspark.sql import functions as F

    from pyrosm_spark.functions.filters import element_filter_column

    df = spark.createDataFrame(
        [(i, {"highway": v}) for i, v in enumerate(
            ["footway", "cycleway", "primary", "footway"])],
        "id long, tags map<string,string>")
    rx = {r["id"] for r in df.filter(element_filter_column(
        F.col("tags"),
        {"highway": [re.compile("^footway$|^cycleway$")]})).collect()}
    lit = {r["id"] for r in df.filter(element_filter_column(
        F.col("tags"), {"highway": ["footway", "cycleway"]})).collect()}
    assert rx == lit and len(rx) == 3


def test_haversine_units_reference_values(spark):
    """Direct port of the reference's test_distance_calculation over
    the Catalyst expression: Null Island -> (10, 10) in every unit."""
    from pyspark.sql import functions as F

    from pyrosm_spark.functions.distance import Unit, haversine

    df = spark.createDataFrame([(0.0, 0.0, 10.0, 10.0)],
                               ["lat1", "lon1", "lat2", "lon2"])

    def val(unit):
        return df.select(haversine(
            F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"),
            unit=unit).alias("d")).collect()[0]["d"]

    assert round(val(Unit.KILOMETERS), 5) == 1568.52272
    assert round(val(Unit.METERS), 2) == 1568522.72
    assert round(val(Unit.MILES), 6) == 974.634834
    assert round(val(Unit.NAUTICAL_MILES), 5) == 846.93452
    assert round(val(Unit.FEET), 0) == 5146072
    assert round(val(Unit.INCHES), 0) == 61752863
    with pytest.raises(ValueError, match="unknown unit"):
        val("furlongs")


def test_fix_ring_renodes_epsilon_vertex_cluster():
    """Hypothesis-found regression: two vertices 2.2e-16 apart leave a
    residual crossing after one noding pass; the iterated fix drops
    the zero-area sliver and returns simple lobes."""
    ring = np.array([[1.0, 1.0], [2.220446049250313e-16, 0.0],
                     [0.0, 0.0], [3.0, 0.5], [2.0, 0.0], [1.0, 1.0]])
    parts = G.fix_ring(ring)
    assert not (len(parts) == 1 and np.array_equal(parts[0], ring))
    for p in parts:
        assert G.ring_is_simple(p)
        assert abs(G.signed_area(p)) > 0


def test_bracket_compiler_random_differential(spark):
    """Randomized 3-way differential over the bracket grammar: the
    Catalyst column, the driver-side CompiledFilter.matches, and an
    independent evaluator of the reference's documented Overpass
    semantics (filter_compiler.py:61-62 — a NEGATIVE operator is
    satisfied when the key is absent; positive operators require
    presence) must agree on every row for random filters over random
    tag maps."""
    import random
    import re as _re

    from pyspark.sql import functions as F

    random.seed(20260818)
    keys = ["highway", "building", "shop", "bicycle", "access", "name"]
    vals = ["path", "primary", "yes", "no", "bakery", "designated",
            "Path"]

    def rand_bracket():
        forms = ["presence", "eq", "regex", "noteq", "notregex"]
        kinds = [random.choice(forms) for _ in range(random.randint(1, 3))]
        if all(f in ("noteq", "notregex") for f in kinds):
            kinds[0] = random.choice(["presence", "eq", "regex"])
        parts = []
        for form in kinds:
            k, v = random.choice(keys), random.choice(vals)
            parts.append({"presence": f'["{k}"]',
                          "eq": f'["{k}"="{v}"]',
                          "noteq": f'["{k}"!="{v}"]',
                          "regex": f'["{k}"~"{v}"]',
                          "notregex": f'["{k}"!~"{v}"]'}[form])
        return "".join(parts)

    def eval_bracket(expr, tags):
        ok = True
        for m in _re.finditer(
                r'\["([^"]+)"(?:(!?[=~])"([^"]*)")?\]', expr):
            k, op, v = m.group(1), m.group(2), m.group(3)
            tv = tags.get(k)
            if op is None:
                r = tv is not None
            elif op == "=":
                r = tv == v
            elif op == "!=":
                r = tv is None or tv != v
            elif op == "~":
                r = tv is not None and _re.search(v, tv) is not None
            else:  # !~
                r = tv is None or _re.search(v, tv) is None
            ok = ok and r
        return ok

    rows = [(i, {k: random.choice(vals)
                 for k in random.sample(keys, random.randint(0, 4))})
            for i in range(300)]
    df = spark.createDataFrame(rows, "id int, tags map<string,string>")

    for _ in range(10):
        exprs = [rand_bracket() for _ in range(random.randint(1, 2))]
        cf = compile_custom_filter(
            exprs if len(exprs) > 1 else exprs[0])
        via_spark = {r["id"] for r in
                     df.filter(cf.to_column(F.col("tags"))).collect()}
        via_matches = {i for i, t in rows if cf.matches(t)}
        expected = {i for i, t in rows
                    if any(eval_bracket(e, t) for e in exprs)}
        assert via_spark == expected, exprs
        assert via_matches == expected, exprs


def test_dict_filter_random_differential(spark):
    """Randomized differential for the dict-filter execution path:
    element_filter_column (Catalyst) vs the independent keep_way
    oracle (tests/oracle.py — Solver.isin_check OR-across-keys +
    candidate gate + keep/exclude inversion), over random filters
    mixing True / raw-string / [True, ...] / string-list values."""
    import random

    from pyspark.sql import functions as F

    from pyrosm_spark.functions.filters import element_filter_column

    from .oracle import keep_way

    random.seed(5)
    keys = ["highway", "building", "shop", "bicycle", "access"]
    vals = ["path", "primary", "yes", "no", "bakery"]
    rows = [(i, {k: random.choice(vals)
                 for k in random.sample(keys, random.randint(0, 4))})
            for i in range(300)]
    df = spark.createDataFrame(rows, "id int, tags map<string,string>")

    for _ in range(15):
        filt = {}
        for k in random.sample(keys, random.randint(0, 3)):
            r = random.random()
            if r < 0.2:
                filt[k] = True
            elif r < 0.4:
                filt[k] = random.choice(vals)
            elif r < 0.6:
                filt[k] = [True] + random.sample(vals, 1)
            else:
                filt[k] = random.sample(vals, random.randint(1, 3))
        osm_keys = random.sample(keys, random.randint(1, 3))
        ftype = random.choice(["keep", "exclude"])
        col = element_filter_column(
            F.col("tags"), filt or None, osm_keys, ftype)
        got = {r["id"] for r in df.filter(col).collect()}
        nfilt = {k: (v if v is True or isinstance(v, list) else [v])
                 for k, v in filt.items()}
        exp = {i for i, tags in rows
               if keep_way(tags, nfilt or None, osm_keys, ftype)}
        assert got == exp, (filt, osm_keys, ftype)


def test_assemble_multipolygon_hole_touching_shell():
    """A legal OSM inner ring touching the outer at a shared node (even
    as the ring's FIRST vertex, which the ray cast classifies
    arbitrarily) must still classify as a hole, not a second shell."""
    shell = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)
    # first vertex lies ON the shell's right edge
    hole = np.array([[4, 2], [2, 1], [2, 3], [4, 2]], float)
    assert G.ring_contains_ring(shell, hole)
    polys = G.assemble_multipolygon([shell, hole])
    assert polys is not None and [len(p) for p in polys] == [2]
    # corner-sharing hole
    hole_c = np.array([[0, 0], [1, 0.5], [0.5, 1], [0, 0]], float)
    assert G.ring_contains_ring(shell, hole_c)
    # disjoint / containing / identical rings stay non-contained
    far = np.array([[10, 10], [11, 10], [11, 11], [10, 10]], float)
    big = np.array([[-1, -1], [5, -1], [5, 5], [-1, 5], [-1, -1]], float)
    assert not G.ring_contains_ring(shell, far)
    assert not G.ring_contains_ring(shell, big)
    assert G.ring_contains_ring(big, shell)
    assert not G.ring_contains_ring(shell, shell.copy())
