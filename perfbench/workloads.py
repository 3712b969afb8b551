"""The four benchmark workloads: inputs, one timed pass, traced layer
prefixes and output checks.

Three tiling workloads run the engine's public tiling entry points from a
scan to a PMTiles archive on disk; ``spatial_join`` runs the two join
operators. Every pass builds its plan from the input files again, as a
user's job would.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs

# full-size and smoke-size inputs per workload
SIZES = {
    "docs_mixed_z10": {"full": {"n_docs": 1000}, "smoke": {"n_docs": 150}},
    "polygons_z14": {"full": {"n": 600}, "smoke": {"n": 30}},
    "points_props_z12": {"full": {"n": 20000}, "smoke": {"n": 3000}},
    "spatial_join": {
        "full": {"n_points": 20000, "n_zones": 300, "n_probes": 200},
        "smoke": {"n_points": 3000, "n_zones": 200, "n_probes": 50},
    },
}
MAX_ZOOM = {"docs_mixed_z10": 10, "polygons_z14": 14, "points_props_z12": 12}
PROPS = {"points_props_z12": ["kind", "rank"]}
KNN_K = 10
KNN_ZOOM = 12
N_TILE_CHECKS = 8
N_PIP_CHECKS = 400
N_KNN_CHECKS = 40


def input_key(name: str, size: dict, seed: int) -> str:
    return "-".join([name] + [f"{k}{v}" for k, v in sorted(size.items())]
                    + [f"s{seed}"])


def make_input(name: str, size: dict, seed: int):
    """The ``make(path)`` callable that generates one workload's input."""
    if name == "docs_mixed_z10":
        return lambda p: inputs.write_documents(p, size["n_docs"], seed)
    if name == "polygons_z14":
        return lambda p: inputs.write_polygons(p, size["n"], seed)
    if name == "points_props_z12":
        return lambda p: inputs.write_points(p, size["n"], seed)
    return lambda p: inputs.write_join(p, size["n_points"], size["n_zones"],
                                       size["n_probes"], seed)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


class Tiling:
    """scan -> [extract | props] -> fanout -> encode -> sink."""

    def __init__(self, name: str, inp: str):
        from gpq_tiles_spark.config import TilerConfig

        self.name = name
        self.inp = inp
        self.props = PROPS.get(name)
        self.config = TilerConfig(min_zoom=0, max_zoom=MAX_ZOOM[name],
                                  write_properties=bool(self.props))
        # sampled tiles whose rings match only up to the starting vertex
        self.ring_rotations = 0

    def scan(self, spark):
        sub = "docs" if self.name == "docs_mixed_z10" else "features"
        return spark.read.parquet(os.path.join(self.inp, sub))

    def features(self, spark):
        from gpq_tiles_spark.extract import extract_features
        from gpq_tiles_spark.pipeline import encode_props_column

        df = self.scan(spark)
        if self.name == "docs_mixed_z10":
            return extract_features(df)
        if self.props:
            return encode_props_column(df, self.props)
        return df

    def run_pass(self, spark, out_path: str) -> dict:
        from gpq_tiles_spark.pipeline import convert_sharded

        return convert_sharded(self.features(spark), out_path, self.config)

    def layout(self, spark) -> str:
        """The encode layout ``convert_sharded(premerge="auto")`` picks,
        by the same rule: mean WKB payload against the public threshold."""
        from pyspark.sql import functions as F

        from gpq_tiles_spark.pipeline import PREMERGE_AUTO_WKB_BYTES

        mean = self.features(spark).agg(F.avg(F.length("wkb"))).first()[0]
        plan = ("premerge" if mean is not None
                and mean >= PREMERGE_AUTO_WKB_BYTES else "wkb")
        return plan + ("_props" if self.props else "")

    def prefixes(self, spark, layout: str, out_path: str, metrics):
        """[(layer, run)] where each run materializes the plan up to and
        including that layer. Layer self time = prefix minus the previous
        prefix. ``metrics`` maps a layer to its PipelineMetrics."""
        from gpq_tiles_spark.extract import extract_features
        from gpq_tiles_spark.pipeline import (
            convert_sharded,
            encode_props_column,
            encode_tiles,
            encode_tiles_premerge,
            encode_tiles_premerge_props,
            encode_tiles_with_props,
            fanout_records,
        )

        cfg = self.config
        steps = [("scan", lambda: noop(self.scan(spark)))]
        if self.name == "docs_mixed_z10":
            steps.append(("extract",
                          lambda: noop(extract_features(self.scan(spark)))))
        if self.props:
            steps.append(("props", lambda: noop(
                encode_props_column(self.scan(spark), self.props))))

        def fanout():
            noop(fanout_records(self.features(spark), cfg, metrics("fanout")))

        def encode():
            feats = self.features(spark)
            m = metrics("encode")
            if layout == "premerge":
                tiles = encode_tiles_premerge(feats, cfg, metrics=m)
            elif layout == "premerge_props":
                tiles = encode_tiles_premerge_props(feats, cfg, metrics=m)
            elif layout == "wkb_props":
                tiles = encode_tiles_with_props(
                    fanout_records(feats, cfg, m),
                    feats.select("feature_id", "props"), cfg, metrics=m,
                    by_range=False)
            else:
                tiles = encode_tiles(fanout_records(feats, cfg, m), cfg,
                                     metrics=m, by_range=False)
            noop(tiles)

        steps += [
            ("fanout", fanout),
            ("encode", encode),
            ("sink", lambda: convert_sharded(self.features(spark), out_path,
                                             cfg)),
        ]
        return steps

    def check_features(self, spark):
        """(feature_id, wkb, bbox arrays) the archive was built from."""
        if self.name == "docs_mixed_z10":
            pdf = self.features(spark).select(
                "feature_id", "wkb", "lng_min", "lat_min", "lng_max",
                "lat_max").toPandas()
        else:
            pdf = pq.read_table(os.path.join(self.inp, "features"), columns=[
                "feature_id", "wkb", "lng_min", "lat_min", "lng_max",
                "lat_max"]).to_pandas()
        return pdf

    def check_tiles(self, spark, archive: str, rng) -> tuple[int, int]:
        """Decode a seeded sample of archive tiles and compare each with
        ``encode_single_tile`` over the same input features. Property tags
        are not produced by the single-tile encoder, so they are stripped
        from both sides before comparing."""
        from gpq_tiles_spark.kernels import tile_math as T
        from gpq_tiles_spark.kernels.hilbert import tile_id_to_zxy
        from gpq_tiles_spark.kernels.mvt import decode_tile
        from gpq_tiles_spark.kernels.pmtiles import PMTilesReader, read_tile
        from gpq_tiles_spark.pipeline import encode_single_tile

        reader = PMTilesReader(archive)
        try:
            ids = reader.tile_ids()
        finally:
            reader.close()
        pdf = self.check_features(spark)
        fids = pdf["feature_id"].to_numpy()
        wkbs = pdf["wkb"].to_numpy()
        bx0, by0, bx1, by1 = (pdf[c].to_numpy() for c in (
            "lng_min", "lat_min", "lng_max", "lat_max"))
        failed = 0
        picks = rng.choice(len(ids), size=min(N_TILE_CHECKS, len(ids)),
                           replace=False)
        for i in picks:
            z, x, y = tile_id_to_zxy(int(ids[i]))
            # the features the pipeline assigns to this tile: those whose
            # bbox tile range at zoom z holds it (the buffer only widens
            # the clip window, not the assignment)
            x0a, x1a, x0b, x1b, y0, y1 = T.tile_ranges_for_bbox(
                bx0, by0, bx1, by1, z)
            near = (((x0a <= x) & (x <= x1a)) | ((x0b <= x) & (x <= x1b))) & (
                (y0 <= y) & (y <= y1))
            feats = [(int(f), bytes(w))
                     for f, w in zip(fids[near], wkbs[near])]
            want = encode_single_tile(feats, z, x, y, self.config)
            got = read_tile(archive, z, x, y, decode=True)
            if want is None or got is None or (
                    _geometry_only(decode_tile(want)) != _geometry_only(got)):
                failed += 1
            elif [f["geometry"] for f in decode_tile(want)[0]["features"]] != [
                    f["geometry"] for f in got[0]["features"]]:
                self.ring_rotations += 1
        return len(picks), failed


def _ring_key(ring: list) -> tuple:
    """A closed ring without its repeated end point, rotated to start at
    its smallest vertex: the same ring whatever vertex it was written from."""
    ring = ring[:-1]
    k = min(range(len(ring)), key=ring.__getitem__) if ring else 0
    return tuple(ring[k:] + ring[:k])


def _geometry_only(layers: list[dict]) -> list:
    """Decoded layers reduced to (id, type, geometry) per feature, with
    polygon rings compared as rings. An interior tile of a large polygon
    holds the buffered tile rectangle: the pipeline emits it as a canonical
    ring while ``encode_single_tile`` clips the polygon down to the same
    ring, written from another starting vertex."""
    from gpq_tiles_spark.kernels.mvt import decode_geometry

    out = []
    for layer in layers:
        feats = []
        for f in layer["features"]:
            g = decode_geometry(f)
            coords = g["coordinates"]
            if g["type"] == "Polygon":
                coords = [_ring_key(r) for r in coords]
            elif g["type"] == "MultiPolygon":
                coords = [[_ring_key(r) for r in p] for p in coords]
            feats.append((f.get("id"), f.get("type"), g["type"], coords))
        out.append((layer["name"], layer.get("extent"), feats))
    return out


class Join:
    """point_in_polygon_join, then knn_join_distributed."""

    def __init__(self, name: str, inp: str):
        self.name = name
        self.inp = inp

    def read(self, spark, sub: str):
        return spark.read.parquet(os.path.join(self.inp, sub))

    def pip(self, spark, out_dir: str) -> None:
        from gpq_tiles_spark.operators.joins import point_in_polygon_join

        point_in_polygon_join(self.read(spark, "points"),
                              self.read(spark, "zones")
                              ).write.mode("overwrite").parquet(out_dir)

    def knn(self, spark, out_dir: str) -> None:
        from gpq_tiles_spark.operators.joins import knn_join_distributed

        res = knn_join_distributed(self.read(spark, "points"),
                                   self.read(spark, "probes"), KNN_K,
                                   zoom=KNN_ZOOM)
        try:
            res.write.mode("overwrite").parquet(out_dir)
        finally:
            res.unpersist()

    def check(self, pip_dir: str, knn_dir: str, rng) -> tuple[int, int]:
        """PIP rows against a numpy brute force over every zone on a point
        sample, and kNN rows against an exact top-k on a probe sample."""
        from gpq_tiles_spark.kernels import geom as G
        from gpq_tiles_spark.kernels.pip import points_in_geom

        pts = pq.read_table(os.path.join(self.inp, "points")).to_pandas()
        zones = pq.read_table(os.path.join(self.inp, "zones")).to_pandas()
        probes = pq.read_table(os.path.join(self.inp, "probes")).to_pandas()
        pip_rows = pq.read_table(pip_dir).to_pandas()
        knn_rows = pq.read_table(knn_dir).to_pandas()
        attempted = failed = 0

        sample = np.sort(rng.choice(len(pts), N_PIP_CHECKS, replace=False))
        px = pts["lng"].to_numpy()[sample]
        py = pts["lat"].to_numpy()[sample]
        pid = pts["point_id"].to_numpy()[sample]
        want: set = set()
        for zid, wkb in zip(zones["zone_id"], zones["zone_wkb"]):
            hit = points_in_geom(px, py, G.from_wkb(bytes(wkb)))
            want.update((int(p), zid) for p in pid[hit])
        mine = pip_rows[pip_rows["point_id"].isin(pid)]
        got = set(zip(mine["point_id"].astype(int), mine["zone_id"]))
        for p in pid:
            attempted += 1
            p = int(p)
            if {z for q, z in want if q == p} != {z for q, z in got if q == p}:
                failed += 1

        all_x = pts["lng"].to_numpy()
        all_y = pts["lat"].to_numpy()
        all_id = pts["point_id"].to_numpy()
        for i in rng.choice(len(probes), N_KNN_CHECKS, replace=False):
            attempted += 1
            pr = probes.iloc[int(i)]
            d = (all_x - pr["lng"]) ** 2 + (all_y - pr["lat"]) ** 2
            order = np.lexsort((all_id, d))[:KNN_K]
            rows = knn_rows[knn_rows["probe_id"] == pr["probe_id"]]
            got_ids = rows.sort_values("rnk")["point_id"].to_numpy()
            if not np.array_equal(got_ids, all_id[order]):
                failed += 1
        return attempted, failed


def archive_facts(path: str) -> dict:
    """Directory bytes and leaf-directory count from an archive header."""
    from gpq_tiles_spark.kernels.pmtiles import PMTilesReader

    reader = PMTilesReader(path)
    try:
        h = reader.header
        leaves = sum(1 for e in reader._root if e.run_length == 0)
        return {"directory_bytes": h.root_dir_length + h.leaf_dirs_length,
                "leaf_directories": leaves,
                "tile_contents": h.tile_contents_count,
                "addressed_tiles": h.addressed_tiles_count}
    finally:
        reader.close()


def tile_reads(path: str, n_reads: int, rng) -> dict:
    """Seeded random ``get_tile_bytes`` calls on one open reader, timed
    one by one. Leaf-directory decodes are counted by wrapping the
    module's directory decoder for the duration of the reads."""
    from gpq_tiles_spark.kernels import pmtiles as P

    # list the tile ids on a reader of their own, so the timed reader
    # starts with no leaf directory decoded
    lister = P.PMTilesReader(path)
    try:
        ids = np.asarray(lister.tile_ids(), dtype=np.int64)
    finally:
        lister.close()
    picks = ids[rng.integers(0, len(ids), n_reads)]
    reader = P.PMTilesReader(path)
    decodes = [0]
    real = P.decode_directory

    def counting(data):
        decodes[0] += 1
        return real(data)

    try:
        lat = np.empty(n_reads)
        missing = 0
        P.decode_directory = counting
        clock = time.perf_counter_ns
        for i, tid in enumerate(picks.tolist()):
            t0 = clock()
            blob = reader.get_tile_bytes(tid)
            lat[i] = clock() - t0
            if not blob:
                missing += 1
    finally:
        P.decode_directory = real
        reader.close()
    return {"reads": n_reads, "missing": missing,
            "p50_ms": float(np.percentile(lat, 50)) / 1e6,
            "p99_ms": float(np.percentile(lat, 99)) / 1e6,
            "leaf_decodes_per_1k": 1000.0 * decodes[0] / n_reads}
