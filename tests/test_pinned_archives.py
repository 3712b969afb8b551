"""Pinned archive digests: the byte-parity oracle for the tile plans and
the sink.

Each digest below was recorded before the salted two-phase encode and the
collect-everything sharded finalize were deleted, from archives on which
every layout of the time agreed: the single-writer ``convert`` stream and
``convert_sharded``, WKB and premerge layouts, the salted encode on both
sinks and the legacy finalize. Now that ``convert`` and
``convert_sharded`` are one sink, these hashes (and ``assembler_archive``,
the independent streaming writer) are what a sink change is checked
against. Inputs: the ``docs_table`` fixture (400 docs, seed 42) through
``extract_features``.
"""

import hashlib
import os
import struct
import tempfile

import pytest
from pyspark.sql import functions as F

from gpq_tiles_spark import pipeline as PL
from gpq_tiles_spark.config import TilerConfig
from gpq_tiles_spark.extract import extract_features
from gpq_tiles_spark.kernels.pmtiles import CODEC_BY_NAME, PMTilesAssembler
from gpq_tiles_spark.pipeline import (
    convert,
    convert_sharded,
    encode_tiles,
    encode_tiles_premerge,
    encode_tiles_with_props,
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


def assembler_archive(feats, path, cfg) -> None:
    """The independent archive oracle: ``PMTilesAssembler`` (the streaming
    single-file writer in kernels/pmtiles.py, which shares no code with
    the sink's finalize) fed the WKB-layout tile frame in tile_id order,
    with the feature bounds the sink writes into the header."""
    cfg = cfg.validate()
    records = fanout_records(feats, cfg)
    tiles = (encode_tiles_with_props(
        records, feats.select("feature_id", "props"), cfg)
        if cfg.write_properties else encode_tiles(records, cfg))
    asm = PMTilesAssembler(
        tile_compression=CODEC_BY_NAME[cfg.tile_compression],
        layer_name=cfg.layer_name, min_zoom=cfg.min_zoom,
        max_zoom=cfg.max_zoom, fields=cfg.layer_fields,
        leaf_max_entries=cfg.leaf_max_entries)
    for r in tiles.orderBy("tile_id").toLocalIterator():
        asm.add_tile(r.tile_id, r.z, bytes(r.mvt), r.content_hash,
                     r.n_features)
    asm.bounds = list(feats.agg(F.min("lng_min"), F.min("lat_min"),
                                F.max("lng_max"), F.max("lat_max")
                                ).collect()[0])
    asm.finalize(path)


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


@pytest.mark.parametrize("name", ["z0_7_sp4", "z0_4"])
def test_assembler_oracle_matches_pin(feats, tmp_path, name):
    """The oracle itself reproduces the pins, so a test that compares a
    sink with ``assembler_archive`` checks the pinned bytes' writer."""
    kw, digest = PINNED_ARCHIVES[name]
    path = str(tmp_path / f"{name}.pmtiles")
    assembler_archive(feats, path, TilerConfig(**kw))
    assert file_sha256(path) == digest


@pytest.mark.parametrize("transport,finalize", [
    ("file", "distributed"), ("stream", "driver"), ("stream", "distributed")])
def test_transports_and_finalizes_match_pins(feats, tmp_path, monkeypatch,
                                             transport, finalize):
    """Every archive pin through both finalizes and both shard transports.
    The blob-streaming transport (a cluster master with no shard_dir) is
    forced under the local master: executors write no shard file, the
    driver rebuilds every shard from the entry rows. No driver temp dir
    may outlive the call."""
    drained = []
    drain = PL._drain_blobs

    def spy(entries, shard_dir):
        drained.append(shard_dir)
        drain(entries, shard_dir)

    monkeypatch.setattr(PL, "_drain_blobs", spy)
    if transport == "stream":
        monkeypatch.setattr(PL, "_stream_blobs",
                            lambda spark, shard_dir: shard_dir is None)
    if finalize == "distributed":
        monkeypatch.setattr(PL, "DRIVER_FINALIZE_MAX_ENTRIES", 0)
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    for name, sink in (("z0_7_sp4", convert), ("z0_4", convert_sharded),
                       ("z0_4_cap2048", convert)):
        kw, digest = PINNED_ARCHIVES[name]
        path = str(tmp_path / f"{name}.pmtiles")
        sink(feats, path, TilerConfig(**kw))
        assert file_sha256(path) == digest, name
    assert len(drained) == (3 if transport == "stream" else 0)
    assert os.listdir(tmp) == []
