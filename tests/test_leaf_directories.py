"""Leaf-directory WRITER tests (round-5: the last 100x-scale item).

Past ROOT_MAX_ENTRIES coalesced entries the writer spills fixed-size
entry chunks to the PMTiles leaf section (root entries with
run_length==0 — the spec two-level layout the round-4 READER already
consumes). These tests pin: spec invariants on our own leaf archive,
read_tile/PMTilesReader round-trips, byte-identity between the
PMTilesAssembler oracle and both sink finalizes (driver and distributed)
in leaf mode, and bounded driver memory on a 10^6-entry synthetic archive
through the distributed finalize.
"""

import gzip
import os
import resource
import time

import numpy as np
import pytest

from gpq_tiles_spark.kernels import hilbert as H
from gpq_tiles_spark.kernels import mvt_fast
from gpq_tiles_spark.kernels.hashes import content_hash64
from gpq_tiles_spark.kernels.pmtiles import (
    HEADER_SIZE,
    ROOT_MAX_ENTRIES,
    Header,
    PMTilesAssembler,
    PMTilesReader,
    decode_directory,
    decompress,
    read_tile,
)


def _make_tiles(n: int, z: int = 8):
    """n distinct single-point MVT tiles on a grid at zoom z, in ascending
    tile_id order: (tile_id, z, x, y, mvt, content_hash) tuples."""
    side = int(np.ceil(np.sqrt(n)))
    xs, ys = np.meshgrid(np.arange(side), np.arange(side))
    xs, ys = xs.ravel()[:n], ys.ravel()[:n]
    tids = H.tile_id(z, xs, ys)
    order = np.argsort(tids)
    head, tail = mvt_fast.layer_head_tail("features", 4096)
    out = []
    for i in order:
        # distinct point per tile -> distinct blob -> no run coalescing
        msg = mvt_fast._point_feature_bytes(
            int(tids[i]) & 0x7FFF, int(xs[i]) % 4096, int(ys[i]) % 4096)
        mvt = mvt_fast.wrap_layer(head, [msg], tail)
        out.append((int(tids[i]), z, int(xs[i]), int(ys[i]), mvt,
                    content_hash64(mvt) & 0x7FFF_FFFF_FFFF_FFFF))
    return out


N_LEAF = ROOT_MAX_ENTRIES + 1904  # 6000: comfortably past the threshold


@pytest.fixture(scope="module")
def leaf_archive(tmp_path_factory):
    tiles = _make_tiles(N_LEAF)
    path = str(tmp_path_factory.mktemp("leafarch") / "leaf.pmtiles")
    asm = PMTilesAssembler(layer_name="features", min_zoom=0, max_zoom=8)
    for tid, z, x, y, mvt, h in tiles:
        asm.add_tile(tid, z, mvt, h, 1)
    asm.bounds = [-10.0, -10.0, 10.0, 10.0]
    asm.finalize(path)
    return path, tiles


def test_leaf_archive_spec_invariants(leaf_archive):
    """The golden-archive invariant suite, applied to OUR leaf archive."""
    path, tiles = leaf_archive
    data = open(path, "rb").read()
    hdr = Header.from_bytes(data[:HEADER_SIZE])
    assert hdr.leaf_dirs_length > 0
    assert hdr.leaf_dirs_offset == (
        hdr.json_metadata_offset + hdr.json_metadata_length)
    assert hdr.tile_data_offset == hdr.leaf_dirs_offset + hdr.leaf_dirs_length
    root = decode_directory(decompress(
        data[hdr.root_dir_offset:hdr.root_dir_offset + hdr.root_dir_length],
        hdr.internal_compression))
    # root holds ONLY leaf pointers, stays spec-small, and its encoded
    # form is far under the ~16 KB root guidance
    assert all(e.run_length == 0 for e in root)
    assert len(root) <= ROOT_MAX_ENTRIES
    assert hdr.root_dir_length < 16 * 1024
    # leaf pointers: ascending tile_ids, back-to-back byte ranges
    off = 0
    for a, b in zip(root, root[1:]):
        assert a.tile_id < b.tile_id
    entries = []
    for e in root:
        assert e.offset == off, "leaf blobs must be contiguous"
        off += e.length
        leaf = decode_directory(decompress(
            data[hdr.leaf_dirs_offset + e.offset:
                 hdr.leaf_dirs_offset + e.offset + e.length],
            hdr.internal_compression))
        assert all(le.run_length >= 1 for le in leaf)  # no nested leaves
        assert leaf[0].tile_id == e.tile_id
        entries.extend(leaf)
    assert off == hdr.leaf_dirs_length
    # expanded entries: the full, strictly-increasing tile set with header
    # bookkeeping intact (tile_entries_count counts TILE entries)
    assert len(entries) == hdr.tile_entries_count == N_LEAF
    assert sum(e.run_length for e in entries) == hdr.addressed_tiles_count
    for a, b in zip(entries, entries[1:]):
        assert a.tile_id + max(a.run_length, 1) <= b.tile_id
    seen = {}
    last_off = -1
    for e in entries:
        assert e.offset + e.length <= hdr.tile_data_length
        if (e.offset, e.length) not in seen:
            assert e.offset >= last_off
            last_off = e.offset
            seen[(e.offset, e.length)] = None
    assert len(seen) == hdr.tile_contents_count == N_LEAF


def test_leaf_archive_roundtrips_both_readers(leaf_archive):
    path, tiles = leaf_archive
    rdr = PMTilesReader(path)
    assert len(rdr.tile_ids()) == N_LEAF
    # sample across leaves (first, boundary-adjacent, last)
    for idx in (0, 1, 4095, 4096, 4097, N_LEAF // 2, N_LEAF - 1):
        tid, z, x, y, mvt, _h = tiles[idx]
        got = read_tile(path, z, x, y)
        assert got == mvt, f"read_tile mismatch at idx {idx}"
        assert rdr.get_tile_bytes(tid) == mvt
    # absent tile inside the id range -> None (not a wrong blob)
    absent_zxy = H.tile_id_to_zxy(tiles[-1][0] + 1)
    assert read_tile(path, *absent_zxy) is None


def test_reader_is_lazy_on_leaf_archives(leaf_archive):
    """Round-6 scale symmetry: opening a leaf archive decodes ONLY the
    root (O(root), never O(tiles)); leaves resolve on demand through the
    LRU and get_tile_bytes binary-searches root then leaf."""
    path, tiles = leaf_archive
    rdr = PMTilesReader(path)
    # open touched no leaf: the root is all leaf pointers, cache empty
    assert all(e.run_length == 0 for e in rdr._root)
    assert rdr._leaf_cache == {}
    # one lookup decodes exactly one leaf
    tid0, z, x, y, mvt0, _h = tiles[0]
    assert rdr.get_tile_bytes(tid0) == mvt0
    assert len(rdr._leaf_cache) == 1
    # a lookup in the same leaf is a cache hit, not a second decode
    tid1 = tiles[1][0]
    assert rdr.get_tile_bytes(tid1) == tiles[1][4]
    assert len(rdr._leaf_cache) == 1
    # a lookup in the LAST leaf decodes a second one
    tidN, _z, _x, _y, mvtN, _h = tiles[-1]
    assert rdr.get_tile_bytes(tidN) == mvtN
    assert len(rdr._leaf_cache) == 2
    # absent ids (inside the range but unaddressed, and past the end)
    present = {t[0] for t in tiles}
    gap = next(t for t in range(tiles[0][0], tiles[-1][0])
               if t not in present)
    assert rdr.get_tile_bytes(gap) is None
    assert rdr.get_tile_bytes(tiles[-1][0] + 10_000) is None
    rdr.close()


def test_reader_every_tile_via_binary_search(leaf_archive):
    """get_tile_bytes must return the right blob for EVERY tile across
    leaf boundaries (bisect correctness), and iter_entries must stream
    the same expansion tile_ids() materializes."""
    path, tiles = leaf_archive
    rdr = PMTilesReader(path)
    for tid, _z, _x, _y, mvt, _h in tiles:
        assert rdr.get_tile_bytes(tid) == mvt
    assert rdr.tile_ids() == sorted(t[0] for t in tiles)
    assert [e.tile_id for e in rdr.iter_entries()] == [
        e.tile_id for e in rdr.entries]
    rdr.close()


def test_reader_leaf_cache_is_bounded(leaf_archive, monkeypatch):
    """The leaf LRU never exceeds its cap: probing one tile per leaf with
    a cap of 1 keeps at most 1 decoded leaf resident."""
    path, tiles = leaf_archive
    rdr = PMTilesReader(path)
    monkeypatch.setattr(PMTilesReader, "_LEAF_CACHE_MAX", 1)
    leaf_starts = [e.tile_id for e in rdr._root]
    assert len(leaf_starts) >= 2
    for tid in leaf_starts:
        assert rdr.get_tile_bytes(tid) is not None
        assert len(rdr._leaf_cache) <= 1
    # most-recently-used leaf survives; the first one was evicted
    keys = list(rdr._leaf_cache)
    last = rdr._root[-1]
    assert keys[-1] == (last.offset, last.length)
    assert (rdr._root[0].offset, rdr._root[0].length) not in rdr._leaf_cache
    rdr.close()


def test_leaf_small_archive_bytes_unchanged(tmp_path):
    """At <= ROOT_MAX_ENTRIES entries the archive must stay root-only —
    byte-identical layout to previous rounds (no leaf section)."""
    tiles = _make_tiles(64)
    path = str(tmp_path / "small.pmtiles")
    asm = PMTilesAssembler(layer_name="features", min_zoom=0, max_zoom=8)
    for tid, z, x, y, mvt, h in tiles:
        asm.add_tile(tid, z, mvt, h, 1)
    asm.finalize(path)
    hdr = Header.from_bytes(open(path, "rb").read(HEADER_SIZE))
    assert hdr.leaf_dirs_offset == 0 and hdr.leaf_dirs_length == 0
    assert hdr.tile_data_offset == (
        hdr.json_metadata_offset + hdr.json_metadata_length)


def test_leaf_max_entries_knob(tmp_path):
    """TilerConfig.leaf_max_entries (round-6 escape hatch): finer leaves
    on request, root pointer clamp still wins, root-only threshold and
    default plan unchanged, archives stay readable at any setting."""
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.kernels.pmtiles import (ROOT_LEAF_POINTERS_MAX,
                                                 plan_leaf_size)

    # planner semantics
    assert plan_leaf_size(100, leaf_max_entries=64) == 0  # root-only wins
    assert plan_leaf_size(N_LEAF) == plan_leaf_size(N_LEAF, None)
    assert plan_leaf_size(N_LEAF, leaf_max_entries=512) == 512
    # clamp: honoring a tiny leaf at huge n would blow up the root
    big = 10_000_000
    assert plan_leaf_size(big, leaf_max_entries=512) == -(
        -big // ROOT_LEAF_POINTERS_MAX)
    # config validation
    with pytest.raises(ValueError):
        TilerConfig(leaf_max_entries=4).validate()
    TilerConfig(leaf_max_entries=512).validate()

    # a real archive with finer leaves: more root pointers, same tiles
    tiles = _make_tiles(N_LEAF)
    path = str(tmp_path / "fine.pmtiles")
    asm = PMTilesAssembler(layer_name="features", min_zoom=0, max_zoom=8,
                           leaf_max_entries=512)
    for tid, z, x, y, mvt, h in tiles:
        asm.add_tile(tid, z, mvt, h, 1)
    asm.finalize(path)
    rdr = PMTilesReader(path)
    assert len(rdr._root) == -(-N_LEAF // 512)  # one pointer per 512-leaf
    for idx in (0, 511, 512, N_LEAF - 1):
        tid, z, x, y, mvt, _h = tiles[idx]
        assert rdr.get_tile_bytes(tid) == mvt
        assert read_tile(path, z, x, y) == mvt
    assert len(rdr.tile_ids()) == N_LEAF
    rdr.close()


def test_leaf_max_entries_byte_parity_across_finalize_paths(
        spark, tmp_path, monkeypatch):
    """The PMTilesAssembler oracle and both sink finalizes (driver, then
    distributed) must stay byte-identical when the knob moves the
    split."""
    from gpq_tiles_spark import pipeline as PL
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.kernels.pmtiles import COMPRESSION_GZIP, compress

    tiles = _make_tiles(N_LEAF)
    single = str(tmp_path / "single.pmtiles")
    asm = PMTilesAssembler(layer_name="features", min_zoom=0, max_zoom=8,
                           leaf_max_entries=1000)
    for tid, z, x, y, mvt, h in tiles:
        asm.add_tile(tid, z, mvt, h, 1)
    asm.bounds = [-10.0, -10.0, 10.0, 10.0]
    asm.finalize(single)
    shard_dir = str(tmp_path / "shards")
    ent = _synthetic_entries(
        spark, tiles, shard_dir, lambda m: compress(m, COMPRESSION_GZIP))
    cfg = TilerConfig(min_zoom=0, max_zoom=8, shuffle_partitions=8,
                      leaf_max_entries=1000)
    for path in ("driver", "distributed"):
        if path == "distributed":
            monkeypatch.setattr(PL, "DRIVER_FINALIZE_MAX_ENTRIES", 0)
        out = str(tmp_path / f"{path}.pmtiles")
        PL._finalize_shards(ent, out, shard_dir, (-10.0, -10.0, 10.0, 10.0),
                            cfg, COMPRESSION_GZIP)
        assert open(single, "rb").read() == open(out, "rb").read(), path


def _synthetic_entries(spark, tiles, shard_dir, codec_blobs):
    """Shard file + SHARD_ENTRIES_SCHEMA DataFrame reproducing what
    _make_shard_writer would emit for these tiles in one partition."""
    from gpq_tiles_spark.pipeline import SHARD_ENTRIES_SCHEMA

    os.makedirs(shard_dir, exist_ok=True)
    rows = []
    local_off = 0
    with open(os.path.join(shard_dir, "shard_00000.bin"), "wb") as f:
        for tid, z, x, y, mvt, h in tiles:
            blob = codec_blobs(mvt)
            f.write(blob)
            rows.append((tid, z, h, len(mvt), local_off, len(blob), 1, 0))
            local_off += len(blob)
    return spark.createDataFrame(rows, SHARD_ENTRIES_SCHEMA)


def test_distributed_finalize_matches_single_writer_in_leaf_mode(
        spark, tmp_path, leaf_archive, monkeypatch):
    """Both sink finalizes (driver, then the forced distributed one) must
    produce the BYTE-identical archive to PMTilesAssembler at leaf scale
    (same deterministic split)."""
    from gpq_tiles_spark import pipeline as PL
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.kernels.pmtiles import COMPRESSION_GZIP, compress

    single_path, tiles = leaf_archive
    shard_dir = str(tmp_path / "shards")
    ent = _synthetic_entries(
        spark, tiles, shard_dir, lambda m: compress(m, COMPRESSION_GZIP))
    cfg = TilerConfig(min_zoom=0, max_zoom=8, shuffle_partitions=8)
    a = open(single_path, "rb").read()
    for path in ("driver", "distributed"):
        if path == "distributed":
            monkeypatch.setattr(PL, "DRIVER_FINALIZE_MAX_ENTRIES", 0)
        out = str(tmp_path / f"{path}.pmtiles")
        PL._finalize_shards(ent, out, shard_dir, (-10.0, -10.0, 10.0, 10.0),
                            cfg, COMPRESSION_GZIP)
        assert a == open(out, "rb").read(), (
            f"leaf-mode archive of the {path} finalize differs")


def test_million_entry_finalize_streams_and_stays_bounded(spark, tmp_path,
                                                          monkeypatch):
    """10^6 directory entries through the forced distributed finalize: the
    leaf path engages, the archive round-trips, and driver peak RSS stays
    bounded (entry bytes never accumulate on the driver)."""
    from gpq_tiles_spark import pipeline as PL
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.kernels.pmtiles import COMPRESSION_GZIP
    from pyspark.sql import functions as F

    monkeypatch.setattr(PL, "DRIVER_FINALIZE_MAX_ENTRIES", 0)

    n = 1_000_000
    n_blobs = 64
    blobs = [gzip.compress(b"blob%05d" % k, mtime=0) for k in range(n_blobs)]
    offs = np.concatenate(([0], np.cumsum([len(b) for b in blobs])[:-1]))
    shard_dir = str(tmp_path / "shards1m")
    os.makedirs(shard_dir)
    with open(os.path.join(shard_dir, "shard_00000.bin"), "wb") as f:
        for b in blobs:
            f.write(b)
    raw_len = len(b"blob%05d" % 0)
    off_arr = F.array(*[F.lit(int(o)).cast("long") for o in offs])
    len_arr = F.array(*[F.lit(len(b)).cast("long") for b in blobs])
    k = (F.col("id") % n_blobs).cast("int")
    ent = spark.range(n).select(
        F.col("id").alias("tile_id"),
        F.lit(10).cast("int").alias("z"),
        (F.col("id") % n_blobs).alias("content_hash"),
        F.lit(raw_len).cast("long").alias("raw_len"),
        F.element_at(off_arr, k + 1).alias("local_off"),
        F.element_at(len_arr, k + 1).alias("blob_len"),
        F.lit(1).cast("long").alias("n_features"),
        F.lit(0).cast("int").alias("pid"),
    )
    out = str(tmp_path / "million.pmtiles")
    cfg = TilerConfig(min_zoom=0, max_zoom=10, shuffle_partitions=32)
    rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024  # MiB
    t0 = time.perf_counter()
    stats = PL._finalize_shards(
        ent, out, shard_dir, (-10.0, -10.0, 10.0, 10.0), cfg,
        COMPRESSION_GZIP)
    elapsed = time.perf_counter() - t0
    rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
    assert stats["tiles"] == n
    assert stats["unique_blobs"] == n_blobs
    hdr = Header.from_bytes(open(out, "rb").read(HEADER_SIZE))
    assert hdr.leaf_dirs_length > 0, "leaf path must engage at 10^6 entries"
    assert hdr.addressed_tiles_count == n
    assert hdr.tile_entries_count == n  # distinct neighbors: no coalescing
    assert hdr.root_dir_length < 16 * 1024
    # spot-read across the id space (leaf lookups through read_tile)
    for tid in (0, 4096, 500_000, n - 1):
        z, x, y = H.tile_id_to_zxy(tid)
        got = read_tile(out, z, x, y)
        assert got == b"blob%05d" % (tid % n_blobs)
    # bounded driver growth: 10^6 40-byte entries is ~40 MB of payload;
    # the stream must not hold the expanded entry/Row forms (which cost
    # >10x that) all at once. The bound is deliberately loose — it exists
    # to catch a reintroduced collect(), not to measure.
    assert rss1 - rss0 < 1200, f"driver RSS grew {rss1 - rss0} MiB"
    assert elapsed < 60, f"finalize took {elapsed:.1f}s"


def test_full_pipeline_leaf_scale_byte_identical(spark, tmp_path):
    """Capstone: the REAL pipeline (extract-less point corpus -> fan-out ->
    shuffle -> encode -> sink) at a tile count past ROOT_MAX_ENTRIES must
    write, through both entry points, the leaf-mode archive the
    independent PMTilesAssembler oracle writes from
    ``encode_tiles(...).orderBy("tile_id")``; the archive reads back."""
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.pipeline import convert, convert_sharded

    from .test_pinned_archives import assembler_archive

    n = 6000
    rng = np.random.default_rng(11)
    lng = rng.uniform(-40.0, 40.0, n)
    lat = rng.uniform(-40.0, 40.0, n)
    rows = []
    from gpq_tiles_spark.kernels import geom as G

    for i in range(n):
        wkb = G.to_wkb((G.POINT, (float(lng[i]), float(lat[i]))))
        rows.append((i, str(i), 0, bytearray(wkb), G.POINT,
                     float(lng[i]), float(lat[i]),
                     float(lng[i]), float(lat[i])))
    feats = spark.createDataFrame(
        rows,
        "feature_id long, doc_id string, span_offset int, wkb binary, "
        "geom_type int, lng_min double, lat_min double, lng_max double, "
        "lat_max double")
    cfg = TilerConfig(min_zoom=9, max_zoom=9, shuffle_partitions=8)
    p1 = str(tmp_path / "single_leaf.pmtiles")
    p2 = str(tmp_path / "sharded_leaf.pmtiles")
    p3 = str(tmp_path / "oracle_leaf.pmtiles")
    s1 = convert(feats, p1, cfg)
    s2 = convert_sharded(feats, p2, cfg)
    assembler_archive(feats, p3, cfg)
    assert s1["tiles"] == s2["tiles"] > ROOT_MAX_ENTRIES
    a = open(p3, "rb").read()
    assert a == open(p1, "rb").read()
    assert a == open(p2, "rb").read()
    hdr = Header.from_bytes(a[:HEADER_SIZE])
    assert hdr.leaf_dirs_length > 0
    r = PMTilesReader(p1)
    assert len(r.tile_ids()) == s1["tiles"]


def test_reader_entries_property_cached(leaf_archive):
    """entries materializes once and caches — repeated access must not
    re-decompress every leaf (round-6 review) — and it is an immutable
    TUPLE so no caller can corrupt the shared cache in place."""
    path, _tiles = leaf_archive
    rdr = PMTilesReader(path)
    e1 = rdr.entries
    assert rdr.entries is e1
    assert isinstance(e1, tuple)
    assert len(e1) == N_LEAF


def test_reader_concurrent_lookups_through_lru(leaf_archive):
    """Threads sharing one reader hammer get_tile_bytes across leaf
    boundaries with a tiny LRU — eviction must never raise (round-6
    review: pop with default + guarded eviction) and every lookup must
    return the right bytes."""
    import threading

    path, tiles = leaf_archive
    rdr = PMTilesReader(path)
    rdr._LEAF_CACHE_MAX = 1  # force constant eviction churn
    idxs = [0, 1, 4095, 4096, 4097, N_LEAF // 2, N_LEAF - 1]
    errors = []

    def worker(seed):
        try:
            for k in range(120):
                tid, z, x, y, mvt, _h = tiles[idxs[(seed + k) % len(idxs)]]
                got = rdr.get_tile_bytes(tid)
                assert got == mvt
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
