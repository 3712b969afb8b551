"""In-process kernel timings on fixed seeded sample batches.

Each kernel is called directly, without Spark, on a batch drawn from the
workload's own input, and timed as the median of several repetitions.
These numbers repeat closely, so a change to one kernel shows here even
when the end-to-end time hides it.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

MIN_REPS = 3
MIN_SECONDS = 0.15
FEATURE_COLS = ["feature_id", "wkb", "geom_type", "lng_min", "lat_min",
                "lng_max", "lat_max"]


def _median_seconds(fn) -> float:
    times = []
    start = time.perf_counter()
    while len(times) < MIN_REPS or time.perf_counter() - start < MIN_SECONDS:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def _rings(g) -> list:
    """Coordinate arrays of a (gtype, data) geometry tuple."""
    t, d = g
    if isinstance(d, np.ndarray):
        return [d.reshape(-1, 2)]
    if t == 6:  # MultiPolygon: list of ring lists
        return [r for rings in d for r in rings]
    return list(d)


def _vertices(g) -> int:
    return sum(len(r) for r in _rings(g))


def _docs_features(inp: str, limit: int) -> pd.DataFrame:
    """Feature rows parsed from the geo spans of the first documents."""
    from gpq_tiles_spark.kernels import geom as G

    docs = pq.read_table(os.path.join(inp, "docs")).slice(0, limit)
    rows = []
    for spans in docs.column("spans").to_pylist():
        for s in spans or ():
            if s["kind"] != "geo":
                continue
            for g in G.flatten(G.from_wkt(s["text"])):
                rows.append((len(rows), G.to_wkb(g), g[0], *G.bbox(g)))
    return pd.DataFrame(rows, columns=FEATURE_COLS)


def sample_features(name: str, inp: str) -> pd.DataFrame:
    """The fixed sample batch of a tiling workload: its first features."""
    if name == "docs_mixed_z10":
        return _docs_features(inp, 400)
    limit = {"polygons_z14": 48, "points_props_z12": 20000}[name]
    tbl = pq.read_table(os.path.join(inp, "features"), columns=FEATURE_COLS)
    return tbl.slice(0, limit).to_pandas()


def tiling_kernels(name: str, inp: str, config, archive: str) -> dict:
    from gpq_tiles_spark.kernels import clip as CK
    from gpq_tiles_spark.kernels import geom as G
    from gpq_tiles_spark.kernels import mvt_fast
    from gpq_tiles_spark.kernels import pmtiles as P
    from gpq_tiles_spark.kernels import simplify as SK
    from gpq_tiles_spark.kernels import tile_math as T
    from gpq_tiles_spark.pipeline import make_fanout, make_fanout_encoded

    out: dict[str, float] = {}
    pdf = sample_features(name, inp)
    n_feat = len(pdf)

    fan = make_fanout(config)
    fan_enc = make_fanout_encoded(config)
    records = pd.concat(list(fan(iter([pdf]))), ignore_index=True)
    out["fanout.batch_us_per_feature"] = 1e6 * _median_seconds(
        lambda: list(fan(iter([pdf])))) / n_feat
    out["kernels.fanout_encoded.us_per_feature"] = 1e6 * _median_seconds(
        lambda: list(fan_enc(iter([pdf])))) / n_feat

    geoms = [G.from_wkb(w) for w in pdf["wkb"]]
    polys = [g for g in geoms if g[0] in (G.POLYGON, G.MULTIPOLYGON)]
    n_vert = sum(_vertices(g) for g in geoms)
    if n_vert:
        out["kernels.simplify.ns_per_vertex"] = 1e9 * _median_seconds(
            lambda: SK.simplify_many(geoms, config.max_zoom,
                                     config.extent)) / n_vert
    if polys:
        # every polygon against the buffered tiles its bbox covers, at
        # the zoom where a polygon spans a handful of tiles
        z = config.max_zoom - 2
        bb = np.array([G.bbox(g) for g in polys])
        x0, x1, _, _, y0, y1 = T.tile_ranges_for_bbox(
            bb[:, 0], bb[:, 1], bb[:, 2], bb[:, 3], z)
        owner, xs, ys = T.explode_tile_ranges(x0, x1, y0, y1)
        lng0, lat0, lng1, lat1 = T.tile_bounds(xs, ys, z)
        pad = (lng1 - lng0) * config.buffer_pixels / config.extent
        pv = np.array([_vertices(g) for g in polys])
        out["kernels.clip.ns_per_vertex"] = 1e9 * _median_seconds(
            lambda: CK.polygons_tiles_clip_multi(
                polys, owner, lng0 - pad, lat0 - pad, lng1 + pad,
                lat1 + pad)) / max(int(pv[owner].sum()), 1)

    tid = records["tile_id"].to_numpy(dtype=np.int64)
    fid = records["feature_id"].to_numpy(dtype=np.int64)
    wkbs = records["wkb"].to_numpy()
    n_rec = max(len(tid), 1)
    out["kernels.mvt_fast.encode.ns_per_record"] = 1e9 * _median_seconds(
        lambda: mvt_fast.encode_record_msgs(
            tid, fid, wkbs, config.extent, config.buffer_pixels)) / n_rec
    order = np.lexsort((fid, tid))
    msgs = np.array(mvt_fast.encode_record_msgs(
        tid, fid, wkbs, config.extent, config.buffer_pixels),
        dtype=object)[order]
    out["kernels.mvt_fast.wrap.ns_per_record"] = 1e9 * _median_seconds(
        lambda: mvt_fast.wrap_sorted_msgs(
            tid[order], msgs, config.layer_name, config.extent,
            fids=fid[order])) / n_rec

    reader = P.PMTilesReader(archive)
    try:
        entries = list(reader.iter_entries())
        blobs = [reader.get_tile_bytes(e.tile_id) for e in entries[:400]]
    finally:
        reader.close()
    raw = sum(len(b) for b in blobs)
    out["kernels.pmtiles.compress.mb_per_s"] = raw / 1e6 / _median_seconds(
        lambda: [P.compress(b, P.COMPRESSION_GZIP) for b in blobs])
    out["kernels.pmtiles.dir.ns_per_entry"] = 1e9 * _median_seconds(
        lambda: P.build_directories(entries)) / len(entries)
    return out


def join_kernels(inp: str, zoom: int) -> dict:
    from gpq_tiles_spark.kernels import geom as G
    from gpq_tiles_spark.kernels.pip import points_in_geom
    from gpq_tiles_spark.operators.cells import grid_disk, latlng_to_cell

    pts = pq.read_table(os.path.join(inp, "points")).slice(0, 20000)
    zones = pq.read_table(os.path.join(inp, "zones")).slice(0, 64)
    px = pts.column("lng").to_numpy()
    py = pts.column("lat").to_numpy()
    geoms = [G.from_wkb(w) for w in zones.column("zone_wkb").to_pylist()]
    edges = sum(len(r) - 1 for g in geoms for r in _rings(g))
    pip_s = _median_seconds(lambda: [points_in_geom(px, py, g) for g in geoms])
    cells = latlng_to_cell(px, py, zoom)
    n_out = len(grid_disk(cells, 2, zoom)[0])
    return {
        "kernels.pip.ns_per_point_edge": 1e9 * pip_s / (len(px) * edges),
        "kernels.cells.grid_disk.ns_per_cell": 1e9 * _median_seconds(
            lambda: grid_disk(cells, 2, zoom)) / n_out,
    }
