"""Pinned archive digests: the byte-parity oracle for the tile plans.

Each digest below was recorded before the salted two-phase encode and the
collect-everything sharded finalize were deleted, from archives on which
every layout of the time agreed: ``convert`` and ``convert_sharded``, WKB
and premerge layouts, the salted encode on both sinks and the legacy
finalize. The remaining plans must keep reproducing them, so a deleted
layout's parity tests are replaced by these hashes instead of being
dropped. Inputs: the ``docs_table`` fixture (400 docs, seed 42) through
``extract_features``.
"""

import hashlib
import struct

import pytest

from gpq_tiles_spark.config import TilerConfig
from gpq_tiles_spark.extract import extract_features
from gpq_tiles_spark.pipeline import (
    convert,
    convert_sharded,
    encode_tiles,
    encode_tiles_premerge,
    fanout_records,
)

# name -> (TilerConfig kwargs, sha256 of the archive file)
PINNED_ARCHIVES = {
    "z0_7_sp4": (dict(min_zoom=0, max_zoom=7, shuffle_partitions=4),
                 "30e58a8ac490ab49c0251defd36c7bfdc37ae55045828ed36e6194185999e4c3"),
    "z0_4": (dict(min_zoom=0, max_zoom=4),
             "0b22c92a938d48322e4fb19121fd94bc65487e5ca3f33c2c2d4c1b3f9a61c8f6"),
    "z0_4_cap2048": (dict(min_zoom=0, max_zoom=4, shuffle_partitions=4,
                          max_tile_bytes=2048),
                     "c73e28c0760a6f51230b90bfe190cbfb5a668d84cfc8e13e2f57c7abfe9b043d"),
}

# z0-7 with shuffle_partitions=8: sha256 over the tile_id-sorted
# (tile_id, mvt) pairs of the encoded tile frame, and the tile count
PINNED_TILE_MAP = (
    "9f5d6dfbffd5bee12fd9cb8e65dc39a645fee01dc965227f7d2318a3def46ce8", 95)


def file_sha256(path) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def tile_map_sha256(tiles) -> tuple[str, int]:
    """sha256 over the sorted (tile_id, mvt) pairs, each written as
    int64-LE tile_id, uint32-LE length, then the MVT bytes."""
    h = hashlib.sha256()
    rows = sorted((r.tile_id, bytes(r.mvt)) for r in tiles.collect())
    for tid, mvt in rows:
        h.update(struct.pack("<qI", tid, len(mvt)))
        h.update(mvt)
    return h.hexdigest(), len(rows)


@pytest.fixture(scope="module")
def feats(spark, docs_table):
    df = extract_features(spark.read.parquet(docs_table)).cache()
    yield df
    df.unpersist()


@pytest.mark.parametrize("premerge", [True, False])
@pytest.mark.parametrize("sink", [convert, convert_sharded],
                         ids=["convert", "convert_sharded"])
@pytest.mark.parametrize("name", sorted(PINNED_ARCHIVES))
def test_archive_matches_pin(feats, tmp_path, name, sink, premerge):
    kw, digest = PINNED_ARCHIVES[name]
    path = str(tmp_path / f"{name}.pmtiles")
    sink(feats, path, TilerConfig(**kw), premerge=premerge)
    assert file_sha256(path) == digest


def test_tile_map_matches_pin(feats):
    """The tile frame itself, before any sink: the WKB layout
    (range-partitioned) and the premerge layout (hash-partitioned) both
    reproduce the pinned (tile_id, mvt) map."""
    cfg = TilerConfig(min_zoom=0, max_zoom=7, shuffle_partitions=8)
    assert tile_map_sha256(
        encode_tiles(fanout_records(feats, cfg), cfg)) == PINNED_TILE_MAP
    assert tile_map_sha256(
        encode_tiles_premerge(feats, cfg)) == PINNED_TILE_MAP
