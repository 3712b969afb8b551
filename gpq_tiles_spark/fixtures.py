"""Deterministic synthetic fixtures (seed 42) — see /root/repo/FIXTURES.md.

Generates the interleaved-document table mandated by BASELINE.json
``input_hint``: (doc_id: string, spans: array<struct<kind, text, media_ref,
offset>>). Geo spans carry OGC WKT in ``text``. Geometry mix mirrors the
reference's realdata fixtures (tests/fixtures/realdata/README.md:6-13):
60% building-like quads clustered in 3 cities, 20% road linestrings,
15% points, 5% large admin polygons (some crossing the antimeridian),
plus a 1% hot-cell skew knob.

Written with pyarrow directly (no Spark dependency) so pytest can generate
small fixtures in milliseconds.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CITIES = [(1.5, 42.5), (-122.4, 37.8), (139.7, 35.7)]  # Andorra-ish, SF, Tokyo
HOT_CELL = (-122.419, 37.775)  # one z14 hot cell (hot-tile skew exercise)
ANTIMERIDIAN = (178.0, -18.0)

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])


def _building_wkt(rng: np.random.Generator, cx: float, cy: float) -> str:
    # 30-120 m across (~0.0003-0.0011 deg), jittered quad
    side = rng.uniform(0.0003, 0.0011)
    x0 = cx + rng.uniform(-0.05, 0.05)
    y0 = cy + rng.uniform(-0.05, 0.05)
    jx = rng.uniform(-0.1, 0.1, 4) * side
    jy = rng.uniform(-0.1, 0.1, 4) * side
    pts = [
        (x0 + jx[0], y0 + jy[0]),
        (x0 + side + jx[1], y0 + jy[1]),
        (x0 + side + jx[2], y0 + side + jy[2]),
        (x0 + jx[3], y0 + side + jy[3]),
    ]
    pts.append(pts[0])
    return "POLYGON((" + ", ".join(f"{x:.8f} {y:.8f}" for x, y in pts) + "))"


def _road_wkt(rng: np.random.Generator, cx: float, cy: float) -> str:
    n = int(rng.integers(5, 51))
    length = rng.uniform(0.005, 0.1)  # 0.5-10 km
    x = cx + rng.uniform(-0.3, 0.3)
    y = cy + rng.uniform(-0.3, 0.3)
    heading = rng.uniform(0, 2 * np.pi)
    pts = [(x, y)]
    for _ in range(n - 1):
        heading += rng.uniform(-0.5, 0.5)
        step = length / n
        x += np.cos(heading) * step
        y += np.sin(heading) * step
        pts.append((x, y))
    return "LINESTRING(" + ", ".join(f"{px:.8f} {py:.8f}" for px, py in pts) + ")"


def _point_wkt(rng: np.random.Generator, cx: float, cy: float) -> str:
    return f"POINT({cx + rng.uniform(-0.5, 0.5):.8f} {cy + rng.uniform(-0.5, 0.5):.8f})"


def _admin_wkt(rng: np.random.Generator, cross_antimeridian: bool) -> str:
    n = int(rng.integers(50, 501))
    if cross_antimeridian:
        cx, cy = ANTIMERIDIAN
        rx, ry = rng.uniform(3.0, 6.0), rng.uniform(1.0, 3.0)
    else:
        cx, cy = CITIES[int(rng.integers(0, 3))]
        rx, ry = rng.uniform(0.5, 3.0), rng.uniform(0.5, 2.0)
    theta = np.sort(rng.uniform(0, 2 * np.pi, n))
    r = 1.0 + rng.uniform(-0.2, 0.2, n)
    xs = cx + np.cos(theta) * rx * r
    ys = np.clip(cy + np.sin(theta) * ry * r, -85.0, 85.0)
    if cross_antimeridian and (xs > 180.0).any():
        # standard OGC representation: split at the antimeridian into a
        # MULTIPOLYGON (real-world data — e.g. Fiji — ships this way)
        ring = np.stack([xs, ys], axis=1)
        ring = np.vstack([ring, ring[:1]])
        from .kernels.clip import sutherland_hodgman

        east = sutherland_hodgman(ring, -360.0, -90.0, 180.0, 90.0)
        west_src = ring.copy()
        west_src[:, 0] -= 360.0
        west = sutherland_hodgman(west_src, -180.0, -90.0, 360.0, 90.0)
        parts = [p for p in (east, west) if len(p) >= 4]
        body = ", ".join(
            "((" + ", ".join(f"{x:.8f} {y:.8f}" for x, y in p) + "))" for p in parts
        )
        return "MULTIPOLYGON(" + body + ")"
    pts = list(zip(xs, ys))
    pts.append(pts[0])
    return "POLYGON((" + ", ".join(f"{x:.8f} {y:.8f}" for x, y in pts) + "))"


_WORDS = (
    "survey parcel elevation census observed derived imagery annotated "
    "boundary transit footprint sensor lidar density corridor easement"
).split()


def generate_documents(n_docs: int, seed: int = 42) -> pa.Table:
    rng = np.random.default_rng(seed)
    doc_ids = []
    spans_col = []
    for i in range(n_docs):
        doc_ids.append(f"doc-{i:08d}")
        n_spans = int(rng.integers(1, 9))
        spans = []
        for off in range(n_spans):
            roll = rng.uniform()
            if roll < 0.50:
                text = " ".join(rng.choice(_WORDS, size=int(rng.integers(3, 12))))
                spans.append({"kind": "text", "text": text, "media_ref": "", "offset": off})
            elif roll < 0.75:
                h = int(rng.integers(0, 2**48))
                spans.append(
                    {
                        "kind": "media",
                        "text": "",
                        "media_ref": f"media/{h:012x}.jpg",
                        "offset": off,
                    }
                )
            else:
                spans.append(
                    {"kind": "geo", "text": _geo_wkt(rng, i, n_docs), "media_ref": "", "offset": off}
                )
        spans_col.append(spans)
    return pa.Table.from_pydict({"doc_id": doc_ids, "spans": spans_col}, schema=DOC_SCHEMA)


def _geo_wkt(rng: np.random.Generator, doc_i: int, n_docs: int) -> str:
    # 1% of docs pinned to the hot z14 cell (skew exercise)
    if doc_i % 100 == 7:
        return f"POINT({HOT_CELL[0] + rng.uniform(-0.001, 0.001):.8f} {HOT_CELL[1] + rng.uniform(-0.001, 0.001):.8f})"
    roll = rng.uniform()
    cx, cy = CITIES[int(rng.integers(0, 3))]
    if roll < 0.60:
        return _building_wkt(rng, cx, cy)
    if roll < 0.80:
        return _road_wkt(rng, cx, cy)
    if roll < 0.95:
        return _point_wkt(rng, cx, cy)
    return _admin_wkt(rng, cross_antimeridian=rng.uniform() < 0.2)


def generate_zones(n_zones: int = 200, seed: int = 42) -> pa.Table:
    """Non-overlapping grid polygons over the three city regions
    (FIXTURES.md §3) for point-in-polygon / kNN joins."""
    rng = np.random.default_rng(seed + 1)
    per_city = n_zones // len(CITIES)
    grid = int(np.ceil(np.sqrt(per_city)))
    zone_ids, wkts, cats = [], [], []
    k = 0
    for cx, cy in CITIES:
        size = 1.2 / grid
        for gy in range(grid):
            for gx in range(grid):
                if k >= n_zones:
                    break
                x0 = cx - 0.6 + gx * size
                y0 = cy - 0.6 + gy * size
                zone_ids.append(f"zone-{k:04d}")
                wkts.append(
                    f"POLYGON(({x0:.8f} {y0:.8f}, {x0 + size:.8f} {y0:.8f}, "
                    f"{x0 + size:.8f} {y0 + size:.8f}, {x0:.8f} {y0 + size:.8f}, "
                    f"{x0:.8f} {y0:.8f}))"
                )
                cats.append(["residential", "commercial", "industrial", "park"][k % 4])
                k += 1
    return pa.Table.from_pydict(
        {"zone_id": zone_ids, "zone_wkt": wkts, "category": cats}
    )


def write_fixture(path: str, n_docs: int, seed: int = 42, rows_per_group: int | None = None):
    t = generate_documents(n_docs, seed)
    pq.write_table(t, path, row_group_size=rows_per_group or 10_000)
    return path
