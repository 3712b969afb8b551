"""Seeded input generators for the benchmark workloads, cached per seed.

Every input is a directory of ``N_FILES`` Parquet files, so the scan has
parallelism without depending on the host's core count. A directory is
published atomically (written under a temporary name, then renamed), so an
interrupted generation is never mistaken for a cached input.
"""

from __future__ import annotations

import os
import shutil
import struct
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 8
CITIES = np.array([(1.5, 42.5), (-122.4, 37.8), (139.7, 35.7)])


def _write_split(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, N_FILES + 1).astype(int)
    for i in range(N_FILES):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def cached(cache_dir: str, key: str, make) -> tuple[str, float, bool]:
    """Return (path, seconds spent, was_cached) for the input ``key``,
    generating it with ``make(tmp_path)`` on the first request."""
    path = os.path.join(cache_dir, key)
    if os.path.isdir(path):
        return path, 0.0, True
    t0 = time.perf_counter()
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    try:
        os.rename(tmp, path)
    except OSError:  # a concurrent run published it first
        shutil.rmtree(tmp, ignore_errors=True)
    return path, time.perf_counter() - t0, False


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """Interleaved documents (doc_id, spans) from the package fixtures."""
    from gpq_tiles_spark.fixtures import generate_documents

    _write_split(generate_documents(n_docs, seed), os.path.join(path, "docs"))


def polygons_table(n: int, seed: int) -> pa.Table:
    """ADM-like polygons of 450..650 vertices (mean ~550): irregular
    star-simple rings from a harmonic radius perturbation plus noise, the
    vertex density of a real ADM4 boundary file. Same shape as the
    ``_adm4_gen`` generator of ``bench.py``, seeded here by ``seed``."""
    from gpq_tiles_spark.kernels import geom as G

    rng = np.random.default_rng(seed)
    cx = 3.3 + rng.uniform(0, 3.5, n)
    cy = 50.7 + rng.uniform(0, 3.0, n)
    w = rng.uniform(0.001, 0.02, n)
    h = rng.uniform(0.001, 0.02, n)
    vs = rng.integers(450, 651, n)
    total = int(vs.sum())
    starts = np.concatenate(([0], np.cumsum(vs)[:-1]))
    dt = rng.uniform(0.2, 1.8, total)
    cs = np.cumsum(dt)
    cs = cs - np.repeat(cs[starts] - dt[starts], vs)
    theta = 2.0 * np.pi * cs / np.repeat(np.add.reduceat(dt, starts), vs)
    p = rng.uniform(0, 2 * np.pi, (3, n))
    r = (1.0
         + 0.18 * np.sin(3 * theta + np.repeat(p[0], vs))
         + 0.12 * np.sin(7 * theta + np.repeat(p[1], vs))
         + 0.07 * np.sin(17 * theta + np.repeat(p[2], vs))
         + rng.normal(0.0, 0.03, total))
    np.clip(r, 0.35, None, out=r)
    xs = np.repeat(cx, vs) + np.repeat(w, vs) * r * np.cos(theta)
    ys = np.repeat(cy, vs) + np.repeat(h, vs) * r * np.sin(theta)
    coords = np.column_stack((xs, ys))
    ends = starts + vs
    wkbs = []
    for i in range(n):
        ring = coords[starts[i]:ends[i]]
        wkbs.append(G.to_wkb((G.POLYGON, [np.vstack((ring, ring[:1]))])))
    return pa.table({
        "feature_id": pa.array(np.arange(n, dtype=np.int64)),
        "wkb": pa.array(wkbs, type=pa.binary()),
        "geom_type": pa.array(np.full(n, G.POLYGON, dtype=np.int32)),
        "lng_min": np.minimum.reduceat(xs, starts),
        "lat_min": np.minimum.reduceat(ys, starts),
        "lng_max": np.maximum.reduceat(xs, starts),
        "lat_max": np.maximum.reduceat(ys, starts),
    })


def write_polygons(path: str, n: int, seed: int) -> None:
    _write_split(polygons_table(n, seed), os.path.join(path, "features"))


def clustered_points(n: int, rng: np.random.Generator,
                     spread: float) -> tuple[np.ndarray, np.ndarray]:
    """Points around the three fixture cities: 64 Gaussian clusters per
    city, cluster centres uniform within ``spread`` degrees of the city."""
    n_clusters = 64 * len(CITIES)
    centre_city = np.repeat(np.arange(len(CITIES)), 64)
    ccx = CITIES[centre_city, 0] + rng.uniform(-spread, spread, n_clusters)
    ccy = CITIES[centre_city, 1] + rng.uniform(-spread, spread, n_clusters)
    k = rng.integers(0, n_clusters, n)
    sd = rng.uniform(0.002, 0.03, n_clusters)[k]
    return ccx[k] + rng.normal(0, 1, n) * sd, ccy[k] + rng.normal(0, 1, n) * sd


def points_table(n: int, seed: int) -> pa.Table:
    """Clustered point features with one string and one int property."""
    from gpq_tiles_spark.kernels import geom as G

    rng = np.random.default_rng(seed)
    lng, lat = clustered_points(n, rng, spread=0.5)
    wkbs = [struct.pack("<BIdd", 1, G.POINT, x, y) for x, y in zip(lng, lat)]
    kinds = np.array(["cafe", "school", "clinic", "shop", "park", "stop",
                      "bank", "museum"])
    return pa.table({
        "feature_id": pa.array(np.arange(n, dtype=np.int64)),
        "wkb": pa.array(wkbs, type=pa.binary()),
        "geom_type": pa.array(np.full(n, G.POINT, dtype=np.int32)),
        "lng_min": lng, "lat_min": lat, "lng_max": lng, "lat_max": lat,
        "kind": pa.array(kinds[rng.integers(0, len(kinds), n)]),
        "rank": pa.array(rng.integers(0, 1000, n).astype(np.int64)),
    })


def write_points(path: str, n: int, seed: int) -> None:
    _write_split(points_table(n, seed), os.path.join(path, "features"))


def write_join(path: str, n_points: int, n_zones: int, n_probes: int,
               seed: int) -> None:
    """Points spread over the zone grids of ``fixtures.generate_zones``,
    the zones as WKB, and kNN probes near the points."""
    from gpq_tiles_spark.fixtures import generate_zones
    from gpq_tiles_spark.kernels import geom as G

    rng = np.random.default_rng(seed)
    lng, lat = clustered_points(n_points, rng, spread=0.6)
    _write_split(pa.table({"point_id": np.arange(n_points, dtype=np.int64),
                           "lng": lng, "lat": lat}),
                 os.path.join(path, "points"))
    zones = generate_zones(n_zones, seed)
    wkb = [G.to_wkb(G.from_wkt(w))
           for w in zones.column("zone_wkt").to_pylist()]
    _write_split(pa.table({"zone_id": zones.column("zone_id"),
                           "zone_wkb": pa.array(wkb, type=pa.binary())}),
                 os.path.join(path, "zones"))
    pick = rng.integers(0, n_points, n_probes)
    _write_split(pa.table({
        "probe_id": np.arange(n_probes, dtype=np.int64),
        "lng": lng[pick] + rng.normal(0, 0.002, n_probes),
        "lat": lat[pick] + rng.normal(0, 0.002, n_probes),
    }), os.path.join(path, "probes"))
