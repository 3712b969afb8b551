"""Kernel tests: WKB/WKT codecs, clip, simplify, validate, drop, hashes.

Expected values ported from the reference's unit tests (clip.rs:389-621,
simplify.rs:503-533, validate.rs:30-38, feature_drop.rs:42/130/360-384,
mvt.rs:606-619).
"""

import numpy as np
import pytest

from gpq_tiles_spark.kernels import clip as C
from gpq_tiles_spark.kernels import drop as D
from gpq_tiles_spark.kernels import geom as G
from gpq_tiles_spark.kernels import mvt as M
from gpq_tiles_spark.kernels import simplify as S
from gpq_tiles_spark.kernels import validate as V
from gpq_tiles_spark.kernels.hashes import fmix64, siphash13, xxh64


# ---------------------------------------------------------------- WKT / WKB

@pytest.mark.parametrize(
    "wkt",
    [
        "POINT(1.5 42.5)",
        "LINESTRING(0 0, 1 1, 2 0.5)",
        "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))",
        "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))",
        "MULTIPOINT(0 0, 1 2)",
        "MULTILINESTRING((0 0, 1 1), (2 2, 3 3, 4 2))",
        "MULTIPOLYGON(((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
    ],
)
def test_wkt_wkb_round_trip(wkt):
    g = G.from_wkt(wkt)
    wkb = G.to_wkb(g)
    g2 = G.from_wkb(wkb)
    assert g2[0] == g[0]
    for a, b in zip(G._all_coords(g), G._all_coords(g2)):
        np.testing.assert_array_equal(np.asarray(a), np.asarray(b))
    # WKT round-trip (textual, values must re-parse equal)
    g3 = G.from_wkt(G.to_wkt(g))
    for a, b in zip(G._all_coords(g), G._all_coords(g3)):
        np.testing.assert_allclose(np.asarray(a), np.asarray(b))


def test_bbox_and_area():
    g = G.from_wkt("POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))")
    assert G.bbox(g) == (0.0, 0.0, 4.0, 4.0)
    assert G.polygon_unsigned_area(g[1]) == 16.0
    hole = G.from_wkt("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))")
    assert G.polygon_unsigned_area(hole[1]) == 100.0 - 4.0


def test_centroid_point_polygon():
    assert G.centroid(G.from_wkt("POINT(3 4)")) == (3.0, 4.0)
    cx, cy = G.centroid(G.from_wkt("POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))"))
    assert abs(cx - 1.0) < 1e-12 and abs(cy - 1.0) < 1e-12


# ---------------------------------------------------------------- clip

def _bounds():
    return (0.0, 0.0, 10.0, 10.0)


def test_clip_point_inclusive_boundary():
    g = G.from_wkt("POINT(10 5)")
    assert C.clip_geometry(g, *_bounds(), 0.0) is not None
    g2 = G.from_wkt("POINT(11 5)")
    assert C.clip_geometry(g2, *_bounds(), 0.0) is None
    # buffer admits it (clip.rs:512-520)
    assert C.clip_geometry(g2, *_bounds(), 2.0) is not None


def test_clip_polygon_partial_within_bounds():
    # (-5,-5..5,5) square clipped by (0,0,10,10): all coords in bounds
    g = G.from_wkt("POLYGON((-5 -5, 5 -5, 5 5, -5 5, -5 -5))")
    res = C.clip_geometry(g, *_bounds(), 0.0)
    assert res is not None and res[0] == G.POLYGON
    ext = res[1][0]
    assert (ext[:, 0] >= 0).all() and (ext[:, 0] <= 10).all()
    assert (ext[:, 1] >= 0).all() and (ext[:, 1] <= 10).all()
    # exact quadrant: area 25
    assert abs(G.polygon_unsigned_area(res[1]) - 25.0) < 1e-12


def test_clip_polygon_outside_none():
    g = G.from_wkt("POLYGON((20 20, 25 20, 25 25, 20 25, 20 20))")
    assert C.clip_geometry(g, *_bounds(), 0.0) is None


def test_clip_polygon_fully_inside_fast_path_identity():
    g = G.from_wkt("POLYGON((2 2, 4 2, 4 4, 2 4, 2 2))")
    res = C.clip_geometry(g, *_bounds(), 0.0)
    assert res is not None and res[0] == G.POLYGON
    np.testing.assert_array_equal(res[1][0], g[1][0])  # untouched coords


def test_clip_geometry_with_buffer_polygon():
    g = G.from_wkt("POLYGON((10.5 5, 12 5, 12 8, 10.5 8, 10.5 5))")
    assert C.clip_geometry(g, *_bounds(), 0.0) is None
    res = C.clip_geometry(g, *_bounds(), 1.0)
    assert res is not None
    ext = res[1][0]
    assert ext[:, 0].max() <= 11.0 + 1e-12


def test_clip_ushape_band():
    # clip.rs:579-621 — either 1 (bridged) or 2 parts acceptable
    g = G.from_wkt(
        "POLYGON((1 0, 2 0, 2 10, 1 10, 1 2, 8 2, 8 10, 9 10, 9 0, 1 0))"
    )
    res = C.clip_geometry(g, 0.0, 4.0, 10.0, 6.0, 0.0)
    assert res is not None
    assert res[0] in (G.POLYGON, G.MULTIPOLYGON)
    for ring in ([res[1][0]] if res[0] == G.POLYGON else [p[0] for p in res[1]]):
        assert (ring[:, 1] >= 4.0 - 1e-12).all() and (ring[:, 1] <= 6.0 + 1e-12).all()


def test_clip_linestring_crossing():
    g = G.from_wkt("LINESTRING(-5 5, 15 5)")
    res = C.clip_geometry(g, *_bounds(), 0.0)
    assert res is not None and res[0] == G.LINESTRING
    np.testing.assert_allclose(res[1], [[0.0, 5.0], [10.0, 5.0]])


def test_clip_linestring_two_parts():
    # zigzag leaves and re-enters -> MultiLineString
    g = G.from_wkt("LINESTRING(2 2, 12 2, 12 8, 2 8)")
    res = C.clip_geometry(g, *_bounds(), 0.0)
    assert res is not None and res[0] == G.MULTILINESTRING
    assert len(res[1]) == 2


def test_buffer_pixels_to_degrees():
    # clip.rs:492-504: 8 px / 4096 / 1 deg = 0.001953125
    assert abs(C.buffer_pixels_to_degrees(8, 0.0, 1.0, 4096) - 8.0 / 4096.0) < 1e-15


# ---------------------------------------------------------------- simplify

def test_zoom_tolerance_values():
    # simplify.rs:503-533: z0 = 0.087890625, z1 halves
    assert S.zoom_tolerance_degrees(0, 4096) == 0.087890625
    assert S.zoom_tolerance_degrees(1, 4096) == 0.0439453125
    assert S.zoom_tolerance_degrees(2, 4096) == 0.087890625 / 4


def test_rdp_keeps_endpoints_and_removes_collinear():
    line = np.array([[0.0, 0.0], [1.0, 0.001], [2.0, 0.0], [3.0, 0.5], [4.0, 0.0]])
    out = S.rdp(line, 0.01)
    np.testing.assert_array_equal(out[0], [0.0, 0.0])
    np.testing.assert_array_equal(out[-1], [4.0, 0.0])
    # (1, 0.001) dropped (within tol of its chord); (2,0) and (3,0.5) kept
    assert len(out) == 4
    assert not any(np.array_equal(p, [1.0, 0.001]) for p in out)
    # a truly flat line collapses to its endpoints
    flat = np.array([[0.0, 0.0], [1.0, 0.001], [2.0, 0.0], [3.0, 0.001], [4.0, 0.0]])
    assert len(S.rdp(flat, 0.01)) == 2


def test_simplify_point_passthrough_and_high_zoom_guard():
    p = G.from_wkt("POINT(1 1)")
    assert S.simplify_for_zoom(p, 5, 4096) is p
    ls = G.from_wkt("LINESTRING(0 0, 1 0.0001, 2 0)")
    out = S.simplify_for_zoom(ls, 14, 4096)  # tol ~5e-6 > 1e-10, still simplifies
    assert out[0] == G.LINESTRING


def test_visvalingam():
    line = np.array([[0.0, 0.0], [1.0, 0.001], [2.0, 0.0], [3.0, 2.0], [4.0, 0.0]])
    # tiny bump removed, then (2,0) (area 2 < 2.5) removed; peak survives
    out = S.visvalingam(line, 2.5)
    assert len(out) == 3
    np.testing.assert_array_equal(out[1], [3.0, 2.0])
    # small threshold keeps the significant vertices
    assert len(S.visvalingam(line, 0.01)) == 4


def test_simplify_in_tile_coords():
    # a wiggle smaller than 1px at this tile size disappears; larger survives
    bounds = (0.0, 0.0, 10.0, 10.0)
    px_deg = 10.0 / 4096  # one pixel in degrees
    line = np.array(
        [[1.0, 1.0], [2.0, 1.0 + 0.4 * px_deg], [3.0, 1.0],
         [4.0, 1.0 + 50 * px_deg], [5.0, 1.0]]
    )
    out = S.simplify_in_tile_coords((G.LINESTRING, line), *bounds, 4096, 1.0)
    assert len(out[1]) == 4  # tiny wiggle gone, big one kept
    np.testing.assert_allclose(out[1][0], [1.0, 1.0], atol=1e-12)
    np.testing.assert_allclose(out[1][-1], [5.0, 1.0], atol=1e-12)


# ---------------------------------------------------------------- validate

def test_validate_constants():
    assert V.filter_valid_geometry(G.from_wkt("LINESTRING(0 0, 1 1)")) is not None
    assert V.filter_valid_geometry((G.LINESTRING, np.array([[0.0, 0.0]]))) is None
    tri = G.from_wkt("POLYGON((0 0, 1 0, 0 0))")  # 3-pt ring -> invalid
    assert V.filter_valid_geometry(tri) is None
    degenerate = G.from_wkt("POLYGON((0 0, 1 0, 1 1e-12, 0 0))")
    assert V.filter_valid_geometry(degenerate) is None  # area < 1e-10


def test_validate_downgrade_multi():
    mp = G.from_wkt(
        "MULTIPOLYGON(((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 5.000001 5, 5 5, 5 5)))"
    )
    out = V.filter_valid_geometry(mp)
    assert out is not None and out[0] == G.POLYGON  # downgraded

    mls = (G.MULTILINESTRING, [np.array([[0.0, 0.0], [1.0, 1.0]]), np.array([[9.0, 9.0]])])
    out2 = V.filter_valid_geometry(mls)
    assert out2 is not None and out2[0] == G.LINESTRING


# ---------------------------------------------------------------- drop rules

def test_point_thinning_retention():
    # 0.4^dz retention; z >= base keeps all (feature_drop.rs:42-101)
    idx = np.arange(100_000, dtype=np.uint64)
    assert not D.should_drop_points(idx, 14, 14).any()
    dropped = D.should_drop_points(idx, 12, 14)
    keep_rate = 1.0 - dropped.mean()
    assert abs(keep_rate - 0.16) < 0.01  # 0.4^2


def test_point_thinning_matches_scalar_formula():
    # keep iff fmix64(i)/2^64 < 0.4^dz
    for i in [0, 1, 42, 999999]:
        h = int(fmix64(np.uint64(i))[()])
        expect_drop = (h / float(2**64 - 1)) >= 0.4
        got = bool(D.should_drop_points(np.array([i], dtype=np.uint64), 13, 14)[0])
        assert got == expect_drop


def test_tiny_polygon_threshold():
    # 10x10 deg tile at extent 4096 -> 1 deg = 409.6 px
    b = (0.0, 0.0, 10.0, 10.0)
    big = G.from_wkt("POLYGON((1 1, 2 1, 2 2, 1 2, 1 1))")[1]
    assert not D.should_drop_tiny_polygon(big, *b, 4096)
    zero = G.from_wkt("POLYGON((1 1, 2 1, 1 1, 1 1))")[1]
    assert D.should_drop_tiny_polygon(zero, *b, 4096)
    # area exactly at threshold is kept: 4 px^2 = (4/409.6^2) deg^2
    side = (4.0**0.5) / 409.6
    sq = [np.array([[1, 1], [1 + side, 1], [1 + side, 1 + side], [1, 1 + side], [1, 1]], dtype=np.float64)]
    area = D.polygon_area_tile_px(sq, *b, 4096)
    assert abs(area - 4.0) < 1e-9


def test_tiny_line_pixel_collapse():
    b = (0.0, 0.0, 10.0, 10.0)
    tiny = np.array([[1.0, 1.0], [1.0001, 1.0001]])
    assert D.line_collapses_to_pixel(tiny, *b, 4096)
    # a line spanning pixels survives
    spans = np.array([[1.0, 1.0], [1.1, 1.1]])
    assert not D.line_collapses_to_pixel(spans, *b, 4096)


# ---------------------------------------------------------------- hash goldens

def test_siphash13_matches_rust_default_hasher():
    """Golden vectors generated with rustc (std DefaultHasher, SipHash-1-3)."""
    import struct

    def h(vals):
        return siphash13(b"".join(struct.pack("<Q", v) for v in vals))

    assert h([]) == 15130871412783076140
    assert h([0]) == 13646096770106105413
    assert h([1, 2, 3]) == 10001198531354766753
    assert h([0x3FF0000000000000, 0x4000000000000000]) == 17192433548353885694
    coords = [np.float64(v).view(np.uint64).item() for v in (1.5, 42.5, -122.4, 37.8)]
    assert h(coords) == 14709035339277623555
    assert siphash13(b"hello world") == 12804282289674824842


def test_xxh64_known_vectors():
    assert xxh64(b"") == 0xEF46DB3751D8E999
    # self-consistency across block boundaries
    data = bytes(range(256)) * 3
    assert xxh64(data) == xxh64(bytes(data))
    assert xxh64(data[:31]) != xxh64(data[:32])


# ---------------------------------------------------------------- mvt zigzag

def test_zigzag_spec_values():
    # mvt.rs:606-619
    assert int(M.zigzag_encode(0)[()]) == 0
    assert int(M.zigzag_encode(-1)[()]) == 1
    assert int(M.zigzag_encode(1)[()]) == 2
    assert int(M.zigzag_encode(-2)[()]) == 3
    assert int(M.zigzag_encode(2)[()]) == 4
    for v in [0, -1, 1, -2, 2, 100, -100, 2**31 - 1, -(2**31)]:
        assert int(M.zigzag_decode(M.zigzag_encode(v))[()]) == v
