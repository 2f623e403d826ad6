"""Tests for the shipper's one data source, `sources.kinesis
.landing_files`: the binaryFile read of a landing dir that batch and
streaming runs share. The splitter on top of it must yield exactly the
blocks a pure-Python split yields, and the full parse→explode pipeline
must compose on top of it unchanged.
"""

from __future__ import annotations

import json
import os

import pytest

from kinesis_s3_data_shipper_spark.ingest.fixture import fixture_files
from kinesis_s3_data_shipper_spark.ingest.pipeline import (flatten_events,
                                                           parse_blocks)
from kinesis_s3_data_shipper_spark.ingest.splitter import (
    gunzip_recursive, split_blocks, split_marker_blocks)
from kinesis_s3_data_shipper_spark.sources.kinesis import (landing_files,
                                                           listed_paths)


@pytest.fixture(scope="module")
def landing_dir(tmp_path_factory):
    """The fixture matrix written to disk, as a nested landing dir."""
    root = tmp_path_factory.mktemp("landing")
    for key, content in fixture_files():
        dest = root / key
        dest.parent.mkdir(parents=True, exist_ok=True)
        dest.write_bytes(content)
    return str(root)


def _expected_blocks(landing_dir):
    """Pure-python reference: every (path key, block_index, block)."""
    out = set()
    for key, content in fixture_files():
        path = "file:" + os.path.join(landing_dir, key)
        for i, block in enumerate(
                split_marker_blocks(gunzip_recursive(content))):
            out.add((path, i, block.decode()))
    return out


def test_source_reads_all_blocks(spark, landing_dir):
    df = landing_files(spark.read, landing_dir)
    assert df.schema.simpleString() == "struct<path:string,content:binary>"
    got = {(r.path, r.block_index, r.block)
           for r in split_blocks(df).collect()}
    assert got == _expected_blocks(landing_dir)


def test_source_partitions_per_file(spark, landing_dir):
    # One row per file — gzip is non-splittable, so the file is the
    # unit of work (the reference's work list); the listing walks
    # nested dirs and returns the `path` column's keys, sorted.
    raw = landing_files(spark.read, landing_dir)
    on_disk = sorted("file:" + os.path.join(d, n)
                     for d, _, names in os.walk(landing_dir) for n in names)
    assert listed_paths(raw) == on_disk
    assert sorted(r.path for r in raw.select("path").collect()) == on_disk


def test_source_prefix_pushdown(spark, landing_dir):
    prefix = "file:" + os.path.join(landing_dir, "prefix/raw/nb1-")
    df = landing_files(spark.read, landing_dir, prefix)
    paths = {r.path for r in df.select("path").collect()}
    assert paths  # the nb1 matrix cells
    assert all(p.startswith(prefix) for p in paths)
    assert listed_paths(df, prefix) == sorted(paths)
    # And the file scan itself pruned, not a filter after reading.
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "StringStartsWith(path," in plan


def test_source_empty_dir(spark, tmp_path):
    df = landing_files(spark.read, str(tmp_path))
    assert df.count() == 0
    assert listed_paths(df) == []


def test_pipeline_composes_on_source(spark, landing_dir):
    """parse→explode→enrich runs unchanged on the shared read and
    recovers the exact event set of a pure-Python parse."""
    blocks = split_blocks(landing_files(spark.read, landing_dir))
    events = flatten_events(parse_blocks(blocks))
    got = {(os.path.basename(r.file), r.block_index, r.event_id)
           for r in events.collect()
           if not r.file.endswith("hazard.dat")}
    expect = set()
    for key, content in fixture_files():
        if key.endswith(("empty.dat", "hazard.dat")):
            continue
        for i, block in enumerate(
                split_marker_blocks(gunzip_recursive(content))):
            for ev in json.loads(block)["logEvents"]:
                expect.add((os.path.basename(key), i, ev["id"]))
    assert got == expect


def test_stream_reader_incremental_batches(spark, tmp_path):
    """landing_files on spark.readStream: run one availableNow drain,
    drop a new file into the landing dir, drain again on the SAME
    checkpoint — the second run must pick up exactly the new file's
    blocks (the file-source checkpoint is the processed-file state)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    fixtures = {os.path.basename(k): v for k, v in fixture_files()
                if k.endswith(("gz1-s0.dat", "gz2-s0.dat"))}
    first, second = sorted(fixtures)[:2]
    (landing / first).write_bytes(fixtures[first])

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        # Parquet sink: memory sinks can't recover a checkpoint, and
        # checkpoint recovery across runs is exactly what's under test.
        q = (split_blocks(landing_files(spark.readStream, str(landing)))
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {(os.path.basename(r.path), r.block_index, r.block)
                for r in spark.read.parquet(out).collect()}

    def expected(*keys):
        return {(k, i, b.decode()) for k in keys for i, b in enumerate(
            split_marker_blocks(gunzip_recursive(fixtures[k])))}

    assert drain() == expected(first)

    (landing / second).write_bytes(fixtures[second])
    # Same checkpoint: the second drain appends ONLY the new file.
    assert drain() == expected(first, second)
