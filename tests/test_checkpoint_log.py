"""The streaming trigger core reads each micro-batch's input files from the
query's own checkpoint (cdc/stream._trigger_files), not from a Spark job.

The reader tests are Spark-free: they lay out ``offsets/`` and
``sources/0/`` by hand in Spark 4's on-disk format. One Spark test checks
the reader against ``df.select("__file").distinct()`` on real drains."""

from __future__ import annotations

import json
import os

import pytest

from etl_spark.cdc import stream
from etl_spark.cdc.apply import _segment_relative
from etl_spark.cdc.stream import CheckpointLogError, _trigger_files

FEED = "file:///data/feed"


def _offset(ckpt, epoch, log_offset):
    d = os.path.join(ckpt, "offsets")
    os.makedirs(d, exist_ok=True)
    meta = {"batchWatermarkMs": 0, "batchTimestampMs": 0, "conf": {}}
    off = "-" if log_offset is None else json.dumps({"logOffset": log_offset})
    with open(os.path.join(d, str(epoch)), "w") as f:
        f.write(f"v1\n{json.dumps(meta)}\n{off}")


def _source(ckpt, name, batches: dict[int, list[str]]):
    d = os.path.join(ckpt, "sources", "0")
    os.makedirs(d, exist_ok=True)
    lines = [
        json.dumps({"path": p, "timestamp": 0, "batchId": k})
        for k, paths in sorted(batches.items()) for p in paths
    ]
    with open(os.path.join(d, name), "w") as f:
        f.write("\n".join(["v1", *lines]))


def _files(k, n=2):
    return [f"{FEED}/seg-{k:03d}/part-{i}.parquet" for i in range(n)]


def test_per_batch_log_file(tmp_path):
    ck = str(tmp_path)
    for e in range(4):
        _offset(ck, e, e)
        _source(ck, str(e), {e: _files(e)})
    assert _trigger_files(ck, 3) == _files(3)
    assert _trigger_files(f"file://{ck}", 2) == _files(2)


def test_batch_covered_only_by_compact_file(tmp_path):
    """Batches 0..9 folded into 9.compact and their own entries cleaned
    up: batch 5 is read from the compact file, its entries only."""
    ck = str(tmp_path)
    for e in range(12):
        _offset(ck, e, e)
    _source(ck, "9.compact", {k: _files(k) for k in range(10)})
    _source(ck, "19.compact", {k: _files(k) for k in range(20)})
    _source(ck, "10", {10: _files(10)})
    _source(ck, "11", {11: _files(11)})
    assert _trigger_files(ck, 5) == _files(5)
    assert _trigger_files(ck, 9) == _files(9)
    assert _trigger_files(ck, 11) == _files(11)


def test_epoch_spanning_several_log_batches(tmp_path):
    ck = str(tmp_path)
    _offset(ck, 0, 1)
    _offset(ck, 1, 4)
    _source(ck, "2.compact", {k: _files(k) for k in range(3)})
    _source(ck, "3", {3: _files(3, 1)})
    _source(ck, "4", {4: _files(4, 3)})
    assert _trigger_files(ck, 1) == _files(2) + _files(3, 1) + _files(4, 3)


def test_epoch_zero(tmp_path):
    """Epoch 0 starts after log batch -1; no offsets/-1 is read."""
    ck = str(tmp_path)
    _offset(ck, 0, 1)
    _source(ck, "0", {0: _files(0)})
    _source(ck, "1", {1: _files(1)})
    assert _trigger_files(ck, 0) == _files(0) + _files(1)
    # a source with no offset yet ("-") holds no files
    _offset(ck, 1, None)
    assert _trigger_files(ck, 1) == []


def test_names_with_space_and_plus_reach_segment_relative_verbatim(tmp_path):
    """'a b+c%20d.parquet' as input_file_name() spells it under Spark 4
    (percent-encoded space and '%', literal '+'): the reader must not
    decode it, or the trigger core's new-files match would miss."""
    ck = str(tmp_path)
    uri = f"{FEED}/seg-003/a%20b+c%2520d.parquet"
    _offset(ck, 0, 0)
    _source(ck, "0", {0: [uri, f"{FEED}/seg-003/x+y.parquet"]})
    files = _trigger_files(ck, 0)
    assert files == [uri, f"{FEED}/seg-003/x+y.parquet"]
    assert [_segment_relative(f) for f in files] == [
        "seg-003/a%20b+c%2520d.parquet", "seg-003/x+y.parquet",
    ]


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


@pytest.mark.parametrize(
    "case",
    [
        "offset_missing",
        "previous_offset_missing",
        "offset_no_header",
        "offset_bad_json",
        "offset_no_log_offset",
        "offset_no_source_line",
        "source_missing",
        "source_bad_json",
        "source_entry_without_path",
        "source_no_header",
    ],
)
def test_missing_or_unparseable_log_raises(tmp_path, case):
    ck = str(tmp_path)
    _offset(ck, 0, 0)
    _offset(ck, 1, 1)
    _source(ck, "0", {0: _files(0)})
    _source(ck, "1", {1: _files(1)})
    off1 = os.path.join(ck, "offsets", "1")
    src1 = os.path.join(ck, "sources", "0", "1")
    if case == "offset_missing":
        os.remove(off1)
    elif case == "previous_offset_missing":
        os.remove(os.path.join(ck, "offsets", "0"))
    elif case == "offset_no_header":
        _write(off1, '{}\n{"logOffset":1}')
    elif case == "offset_bad_json":
        _write(off1, 'v1\n{}\n{"logOffset":')
    elif case == "offset_no_log_offset":
        _write(off1, 'v1\n{}\n{"offset":1}')
    elif case == "offset_no_source_line":
        _write(off1, "v1\n{}")
    elif case == "source_missing":
        os.remove(src1)
    elif case == "source_bad_json":
        _write(src1, 'v1\n{"path": "file:///x", "batchId"')
    elif case == "source_entry_without_path":
        _write(src1, 'v1\n{"timestamp": 0, "batchId": 1}')
    elif case == "source_no_header":
        _write(src1, json.dumps({"path": "file:///x", "batchId": 1}))
    with pytest.raises(CheckpointLogError):
        _trigger_files(ck, 1)


def test_log_files_equal_scanned_files_on_every_trigger(spark, tmpdir_path, monkeypatch):
    """On a max_files_per_trigger=2 drain over names with a space and a
    '+', and on a trigger redelivered after a crash (offset written,
    commit missing), the files the drain hands the trigger core equal
    the micro-batch's own distinct ``__file`` values."""
    from etl_spark.cdc.gen import change_feed_df, write_feed
    from etl_spark.lake.table import LakeTable
    from etl_spark.schema import TRANSCRIPT_SCHEMA

    feed = os.path.join(tmpdir_path, "feed")
    write_feed(
        change_feed_df(spark, n_events=1500, n_convs=30, max_turns=6,
                       seed=41, n_batches=2),
        feed, files_per_segment=3,
    )
    seg = os.path.join(feed, sorted(os.listdir(feed))[0])
    parts = sorted(f for f in os.listdir(seg) if f.endswith(".parquet"))
    os.rename(os.path.join(seg, parts[0]), os.path.join(seg, "part a+b.parquet"))
    n_files = sum(
        f.endswith(".parquet") for s in os.listdir(feed)
        for f in os.listdir(os.path.join(feed, s))
    )

    seen: list[tuple[int, list[str], list[str]]] = []
    real_drain = stream._drain

    def spy_drain(src, checkpoint_dir, available_now, on_batch):
        def batch(df, epoch_id, files):
            scanned = [r[0] for r in df.select("__file").distinct().collect()]
            seen.append((epoch_id, sorted(files), sorted(scanned)))
            on_batch(df, epoch_id, files)

        return real_drain(src, checkpoint_dir, available_now, batch)

    monkeypatch.setattr(stream, "_drain", spy_drain)
    table = LakeTable.create(os.path.join(tmpdir_path, "lake"), TRANSCRIPT_SCHEMA, n_buckets=2)
    ck = os.path.join(tmpdir_path, "ck")
    stream.run_stream(spark, table, feed, ck, max_files_per_trigger=2, mode="mor")
    assert len(seen) == (n_files + 1) // 2
    for _epoch, files, scanned in seen:
        assert files == scanned and 1 <= len(files) <= 2
    assert sum(len(f) for _e, f, _s in seen) == n_files
    assert any("part%20a+b.parquet" in f for _e, fs, _s in seen for f in fs)

    # crash after the last trigger's offset was written, before its commit
    last_epoch, last_files, _ = seen[-1]
    for name in (str(last_epoch), f".{last_epoch}.crc"):
        os.remove(os.path.join(ck, "commits", name))
    v = table.manifest().version
    seen.clear()
    stream.run_stream(spark, table, feed, ck, max_files_per_trigger=2, mode="mor")
    assert [(e, f) for e, f, _s in seen] == [(last_epoch, last_files)]
    assert seen[0][1] == seen[0][2]
    assert table.manifest().version == v  # the redelivery no-ops
