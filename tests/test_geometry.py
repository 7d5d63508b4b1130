"""WKB codec + ray-casting PIP vs hand-computed expectations.

Exercises the reference algorithm's cases (ogrlinearring.cpp:471-533):
convex, concave, interior ring (hole), multipolygon, envelope reject.
"""

from __future__ import annotations

import numpy as np
import pytest

from gdal_spark.functions import geometry as G

SQUARE = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
HOLE = np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], dtype=float)
# concave "C" shape
CONCAVE = np.array(
    [[0, 0], [10, 0], [10, 3], [3, 3], [3, 7], [10, 7], [10, 10], [0, 10], [0, 0]],
    dtype=float,
)


def test_wkb_point_roundtrip():
    wkb = G.encode_point(1.5, -2.25)
    assert G.decode_point(wkb) == (1.5, -2.25)


def test_wkb_polygon_roundtrip():
    wkb = G.encode_polygon([SQUARE, HOLE])
    polys = G.decode_polygons(wkb)
    assert len(polys) == 1
    assert len(polys[0]) == 2
    np.testing.assert_allclose(polys[0][0], SQUARE)
    np.testing.assert_allclose(polys[0][1], HOLE)


def test_wkb_closes_open_ring():
    open_ring = SQUARE[:-1]
    polys = G.decode_polygons(G.encode_polygon([open_ring]))
    np.testing.assert_allclose(polys[0][0], SQUARE)


def test_wkb_multipolygon_roundtrip():
    wkb = G.encode_multipolygon([[SQUARE], [CONCAVE + 100.0]])
    polys = G.decode_polygons(wkb)
    assert len(polys) == 2
    np.testing.assert_allclose(polys[1][0], CONCAVE + 100.0)


def test_area():
    assert G.polygon_area(G.encode_polygon([SQUARE])) == pytest.approx(100.0)
    assert G.polygon_area(G.encode_polygon([SQUARE, HOLE])) == pytest.approx(96.0)
    assert G.polygon_area(G.encode_polygon([CONCAVE])) == pytest.approx(72.0)


def test_envelope():
    env = G.polygon_envelope(G.encode_polygon([CONCAVE]))
    assert env == (0.0, 0.0, 10.0, 10.0)


def test_py_point_in_ring_scalar():
    assert G.py_point_in_ring(5, 5, SQUARE)
    assert not G.py_point_in_ring(15, 5, SQUARE)
    assert not G.py_point_in_ring(-1, 5, SQUARE)
    # concave notch: (5,5) is inside the notch => outside polygon
    assert not G.py_point_in_ring(5, 5, CONCAVE)
    assert G.py_point_in_ring(5, 1, CONCAVE)
    assert G.py_point_in_ring(1, 5, CONCAVE)


def test_prepared_polygons_with_hole():
    prep = G.PreparedPolygons(
        ids=[7, 8],
        wkbs=[G.encode_polygon([SQUARE, HOLE]), G.encode_polygon([CONCAVE])],
    )
    px = np.array([5.0, 5.0, 1.0, 15.0, 5.0, 4.5])
    py = np.array([1.0, 5.0, 5.0, 5.0, 9.0, 4.5])
    pi, gi = prep.contains_batch(px, py)
    pairs = {(int(a), int(prep.ids[b])) for a, b in zip(pi, gi)}
    # pt0 (5,1): in square, in concave. pt1 (5,5): inside square's hole -> out
    #   of poly 7; in concave notch -> out of poly 8.
    # pt2 (1,5): both. pt3 (15,5): neither (bbox reject).
    # pt4 (5,9): both. pt5 (4.5,4.5): inside hole -> not 7; notch -> not 8.
    assert pairs == {(0, 7), (0, 8), (2, 7), (2, 8), (4, 7), (4, 8)}


def test_prepared_multipolygon():
    far = SQUARE + 100.0
    prep = G.PreparedPolygons(ids=[1], wkbs=[G.encode_multipolygon([[SQUARE], [far]])])
    pi, gi = prep.contains_batch(np.array([5.0, 105.0, 50.0]), np.array([5.0, 105.0, 50.0]))
    assert set(pi.tolist()) == {0, 1}


def test_raycast_matches_scalar_on_random_points():
    rng = np.random.default_rng(42)
    px = rng.uniform(-2, 12, 500)
    py = rng.uniform(-2, 12, 500)
    prep = G.PreparedPolygons(ids=[0], wkbs=[G.encode_polygon([CONCAVE])])
    pi, _ = prep.contains_batch(px, py)
    got = set(pi.tolist())
    expected = {i for i in range(500) if G.py_point_in_ring(px[i], py[i], CONCAVE)}
    assert got == expected


def test_wkt_codec_roundtrip():
    """Full WKT emission + parser (OGR exportToWkt/createFromWkt) across
    all six geometry types; %.15g prints integral coords bare."""
    cases = [
        "POINT (30 10.5)",
        "LINESTRING (30 10,10 30,40 40)",
        "POLYGON ((30 10,40 40,20 40,10 20,30 10))",
        "POLYGON ((35 10,45 45,15 40,10 20,35 10),(20 30,35 35,30 20,20 30))",
        "MULTIPOINT (10 40,40 30,20 20,30 10)",
        "MULTILINESTRING ((10 10,20 20,10 40),(40 40,30 30,40 20,30 10))",
        "MULTIPOLYGON (((30 20,45 40,10 40,30 20)),"
        "((15 5,40 10,10 20,5 10,15 5)))",
    ]
    for wkt in cases:
        wkb = G.wkb_from_wkt(wkt)
        assert G.wkt_from_wkb(wkb) == wkt, wkt
    # nested MULTIPOINT variant parses to the same geometry
    a = G.wkb_from_wkt("MULTIPOINT ((10 40),(40 30))")
    b = G.wkb_from_wkt("MULTIPOINT (10 40,40 30)")
    assert a == b
    # decimals survive %.15g
    assert G.wkt_from_wkb(G.wkb_from_wkt("POINT (1.25 -2.75)")) == \
        "POINT (1.25 -2.75)"


def test_wkt_empty_point_and_linestring():
    """Round-2 ADVICE regression: POINT EMPTY / LINESTRING EMPTY used to
    fall through to the coord parser and raise IndexError."""
    pt = G.wkb_from_wkt("POINT EMPTY")
    x, y = G.decode_point(pt)
    assert np.isnan(x) and np.isnan(y)
    ls = G.wkb_from_wkt("LINESTRING EMPTY")
    assert len(G.decode_linestring(ls)) == 0
    # multi kinds already worked; keep them covered
    assert G.wkb_from_wkt("MULTIPOINT EMPTY") is not None
    assert G.wkb_from_wkt("POLYGON EMPTY") is not None


def test_contains_batch_empty_batch():
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    prep = G.PreparedPolygons([7], [G.encode_polygon([sq])])
    for _ in range(2):  # before and after the cell index exists
        pi, gi = prep.contains_batch(np.empty(0), np.empty(0))
        assert pi.dtype == gi.dtype == np.int64
        assert len(pi) == len(gi) == 0
        prep.contains_batch(np.array([5.0]), np.array([5.0]))


# ---------------------------------------------------------------------------
# differential fuzz: the pair kernel against the scalar reference loop
# ---------------------------------------------------------------------------

def _reference_pairs(polys: list[list[list[np.ndarray]]], px, py) -> set:
    """(point, polygon) pairs whose even-odd parity over all rings of all
    parts is odd, by ``py_point_in_ring`` (closed rings only)."""
    out = set()
    for j, parts in enumerate(polys):
        rings = [r for rs in parts for r in rs]
        for i in range(len(px)):
            if sum(G.py_point_in_ring(px[i], py[i], r) for r in rings) % 2:
                out.add((i, j))
    return out


def _fuzz_polygons(rng) -> list[list[list[np.ndarray]]]:
    """Concave rings, holes, multipolygons and rings of fewer than 4 points
    on an integer lattice, so lattice points fall on edges and vertices."""
    polys = []
    for _ in range(12):
        x0, y0 = rng.integers(-6, 6, 2).astype(float)
        w, h = rng.integers(2, 6, 2).astype(float)
        outer = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h],
                          [x0 + w / 2, y0 + h / 2], [x0, y0 + h], [x0, y0]])
        parts = [[outer]]
        kind = rng.integers(0, 4)
        if kind == 1:  # hole
            parts[0].append(np.array([[x0 + 0.5, y0 + 0.5], [x0 + 1.5, y0 + 0.5],
                                      [x0 + 1.5, y0 + 1], [x0 + 0.5, y0 + 0.5]]))
        elif kind == 2:  # second part
            parts.append([outer + rng.integers(-3, 4, 2)])
        elif kind == 3:  # a ring of 3 points bounds nothing
            parts[0].append(np.array([[x0, y0], [x0 + w, y0 + h], [x0, y0]]))
        polys.append(parts)
    return polys


def _wkb(parts) -> bytes:
    return G.encode_polygon(parts[0]) if len(parts) == 1 else \
        G.encode_multipolygon(parts)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_contains_batch_matches_scalar_reference(seed):
    rng = np.random.default_rng(seed)
    polys = _fuzz_polygons(rng)
    lattice = rng.integers(-8, 14, (300, 2)) / 2.0  # on vertices and edges
    px = np.r_[lattice[:, 0], rng.uniform(-8, 14, 300)]
    py = np.r_[lattice[:, 1], rng.uniform(-8, 14, 300)]
    prep = G.PreparedPolygons(list(range(len(polys))), [_wkb(p) for p in polys])
    pi, gi = prep.contains_batch(px, py)
    assert len(set(zip(pi.tolist(), gi.tolist()))) == len(pi)
    assert set(zip(pi.tolist(), gi.tolist())) == _reference_pairs(polys, px, py)


def test_pairs_inside_over_several_chunks_matches_one_chunk():
    rng = np.random.default_rng(5)
    t = np.linspace(0, 2 * np.pi, 400)
    star = np.column_stack(((3 + np.cos(7 * t)) * np.cos(t),
                            (3 + np.cos(7 * t)) * np.sin(t)))
    star[-1] = star[0]
    polys = [[[star]], [[SQUARE - 5.0, HOLE - 5.0]], [[CONCAVE - 4.0]]]
    prep = G.PreparedPolygons([0, 1, 2], [_wkb(p) for p in polys])
    px, py = rng.uniform(-5, 6, 2000), rng.uniform(-5, 6, 2000)
    poly = rng.integers(0, 3, 2000)
    whole = prep.pairs_inside(px, py, poly)
    prep.CHUNK_EDGES = 64  # the star alone (399 edges) exceeds a chunk
    assert np.array_equal(prep.pairs_inside(px, py, poly), whole)
    ref = _reference_pairs(polys, px, py)
    assert {i for i in range(2000) if (i, int(poly[i])) in ref} == \
        set(np.flatnonzero(whole).tolist())
    assert whole.any() and not whole.all()


def test_contains_batch_skips_polygons_without_a_bbox():
    """A polygon whose rings all have fewer than 4 points, or with a NaN
    vertex, has a NaN bbox: it matches nothing and the rest still match."""
    degenerate = np.array([[0.0, 0.0], [5.0, 5.0], [0.0, 0.0]])
    nan_ring = SQUARE.copy()
    nan_ring[2] = np.nan
    prep = G.PreparedPolygons([1, 2, 3], [G.encode_polygon([degenerate]),
                                          G.encode_polygon([nan_ring]),
                                          G.encode_polygon([SQUARE])])
    assert np.isnan(prep.bbox[:2]).all()
    pi, gi = prep.contains_batch(np.array([1.0, 2.5, 50.0]), np.array([1.0, 2.5, 5.0]))
    assert sorted(zip(pi.tolist(), prep.ids[gi].tolist())) == [(0, 3), (1, 3)]
    only_bad = G.PreparedPolygons([1], [G.encode_polygon([degenerate])])
    for batch in (np.array([1.0]), np.empty(0)):
        pi, gi = only_bad.contains_batch(batch, batch)
        assert len(pi) == len(gi) == 0
    empty = G.PreparedPolygons([], [])
    assert len(empty.pairs_inside(np.empty(0), np.empty(0), np.empty(0, dtype=np.int64))) == 0
