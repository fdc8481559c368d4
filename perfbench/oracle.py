"""Independent answers for the spatial ops, in numpy, for ``--record``.

None of this calls ``pyrosm_spark``: the tile formula is the one the
``functions.tiles`` docstring documents, polygons are read from WKB
bytes here, containment is an even-odd ray cast over every ring, and
kNN is a brute-force haversine ranking. Recording compares the engine's
full outputs against these before it writes ``expected.json``.
"""

from __future__ import annotations

import struct

import numpy as np

_RES_SHIFT = 58
_X_SHIFT = 29


def cell_xy(lon, lat, res: int) -> tuple:
    n = 1 << res
    x = np.clip(np.floor((np.asarray(lon) + 180.0) / 360.0 * n), 0, n - 1)
    y = np.clip(np.floor((np.asarray(lat) + 90.0) / 180.0 * n), 0, n - 1)
    return x.astype(np.int64), y.astype(np.int64)


def cell_ids(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    x, y = cell_xy(lon, lat, res)
    return (np.int64(res) << _RES_SHIFT) + (x << _X_SHIFT) + y


def tile_histogram(lon, lat, res: int) -> dict:
    cells, counts = np.unique(cell_ids(np.asarray(lon), np.asarray(lat), res),
                              return_counts=True)
    return {int(c): int(k) for c, k in zip(cells, counts)}


def wkb_rings(buf: bytes) -> list:
    """Every ring of a WKB Polygon/MultiPolygon as an (n, 2) array;
    None for other geometry types."""
    def ring_list(off: int, endian: str):
        (n_rings,) = struct.unpack_from(endian + "I", buf, off)
        off += 4
        rings = []
        for _ in range(n_rings):
            (n_pts,) = struct.unpack_from(endian + "I", buf, off)
            off += 4
            pts = np.frombuffer(buf, dtype=endian + "f8", count=2 * n_pts,
                                offset=off).reshape(n_pts, 2)
            off += 16 * n_pts
            rings.append(pts)
        return rings, off

    endian = "<" if buf[0] == 1 else ">"
    (gtype,) = struct.unpack_from(endian + "I", buf, 1)
    if gtype == 3:
        return ring_list(5, endian)[0]
    if gtype == 6:
        (n_parts,) = struct.unpack_from(endian + "I", buf, 5)
        off, rings = 9, []
        for _ in range(n_parts):
            e = "<" if buf[off] == 1 else ">"
            part, off = ring_list(off + 5, e)
            rings.extend(part)
        return rings
    return None


def _inside(px: np.ndarray, py: np.ndarray, rings: list) -> np.ndarray:
    """Even-odd crossing parity of points against all rings."""
    odd = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        x1, y1 = ring[:-1, 0], ring[:-1, 1]
        x2, y2 = ring[1:, 0], ring[1:, 1]
        for a, b, c, d in zip(x1, y1, x2, y2):
            straddle = (b > py) != (d > py)
            if not straddle.any():
                continue
            with np.errstate(divide="ignore", invalid="ignore"):
                xc = a + (py - b) * (c - a) / (d - b)
            odd ^= straddle & (px < xc)
    return odd


def pip_pairs(ids, lon, lat, polygons) -> set:
    """{(point_id, poly_id, poly_osm_type)} for every point strictly
    inside a polygon. ``polygons`` is [(id, osm_type, wkb_bytes)]."""
    ids = np.asarray(ids)
    lon = np.asarray(lon, dtype=float)
    lat = np.asarray(lat, dtype=float)
    order = np.argsort(lon, kind="stable")
    slon = lon[order]
    out = set()
    for pid, ptype, wkb in polygons:
        rings = wkb_rings(bytes(wkb))
        if not rings:
            continue
        allp = np.concatenate(rings)
        x0, y0 = allp.min(axis=0)
        x1, y1 = allp.max(axis=0)
        lo = np.searchsorted(slon, x0, side="left")
        hi = np.searchsorted(slon, x1, side="right")
        cand = order[lo:hi]
        cand = cand[(lat[cand] >= y0) & (lat[cand] <= y1)]
        if cand.size == 0:
            continue
        hit = cand[_inside(lon[cand], lat[cand], rings)]
        out.update((ids[i], int(pid), ptype) for i in hit)
    return out


def _haversine_m(lat1, lon1, lat2, lon2):
    r = 6_371_008.8
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = p2 - p1, np.radians(lon2 - lon1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * r * np.arcsin(np.sqrt(a))


def knn(ids, lon, lat, t_ids, t_lon, t_lat, k: int, res: int,
        ring: int) -> dict:
    """{point_id: [neighbor ids in rank order]}, ties broken by id.

    Candidates are the targets whose res-``res`` cell lies within
    ``ring`` cells of the point's cell: the documented search window of
    the engine's cell-local kNN, which can return fewer than k."""
    t_ids = np.asarray(t_ids)
    t_lon = np.asarray(t_lon, dtype=float)
    t_lat = np.asarray(t_lat, dtype=float)
    tx, ty = cell_xy(t_lon, t_lat, res)
    px, py = cell_xy(lon, lat, res)
    out = {}
    for pid, x, y, cx, cy in zip(ids, lon, lat, px, py):
        near = np.flatnonzero((np.abs(tx - cx) <= ring)
                              & (np.abs(ty - cy) <= ring))
        if near.size == 0:
            continue
        d = _haversine_m(y, x, t_lat[near], t_lon[near])
        top = near[np.lexsort((t_ids[near], d))[:k]]
        out[pid] = [int(t) for t in t_ids[top]]
    return out
