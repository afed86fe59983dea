"""Lake maintenance: time-travel reads, small-file compaction, snapshot
expiry — the Iceberg-parity table services (snapshot log /
rewrite_data_files / expire_snapshots analogs)."""

import datetime as dt
import os

from etl_spark.cdc.apply import apply_batch
from etl_spark.lake.table import LakeTable
from etl_spark.schema import CHANGE_SCHEMA, TRANSCRIPT_SCHEMA


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _mk(spark, rows):
    return spark.createDataFrame(rows, CHANGE_SCHEMA)


def _table(tmpdir_path, n_buckets=4):
    return LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=n_buckets)


def _apply_n(spark, t, n, start=0):
    for i in range(start, start + n):
        apply_batch(
            spark,
            t,
            _mk(spark, [(
                "I", _ts(f"2024-01-01T00:00:{i:02d}"), i, f"c{i}", 0,
                "user", f"text-{i}", None, f"f{i}",
            )]),
            f"b{i}",
        )


def test_time_travel_read(spark, tmpdir_path):
    t = _table(tmpdir_path)
    apply_batch(spark, t, _mk(spark, [
        ("I", _ts("2024-01-01T00:00:01"), 1, "c1", 0, "user", "v1", None, "f1")]), "b1")
    v1 = t.manifest().version
    apply_batch(spark, t, _mk(spark, [
        ("U", _ts("2024-01-01T00:00:02"), 2, "c1", 0, "user", "v2", None, "f2")]), "b2")
    assert t.read(spark).collect()[0]["text"] == "v2"
    old = t.read(spark, version=v1).collect()
    assert len(old) == 1 and old[0]["text"] == "v1"
    assert t.versions() == [0, v1, t.manifest().version]


def test_compact_small_files_preserves_content(spark, tmpdir_path):
    t = _table(tmpdir_path, n_buckets=2)
    _apply_n(spark, t, 8)  # 8 append batches -> many files per bucket
    m = t.manifest()
    assert any(len(fl) > 2 for fl in m.files.values())
    before = {(r["conv_id"], r["turn_idx"], r["text"]) for r in t.read(spark).collect()}
    n = t.compact_small_files(spark, max_files_per_bucket=2)
    assert n > 0
    after_m = t.manifest()
    assert all(len(fl) <= 2 for fl in after_m.files.values())
    after = {(r["conv_id"], r["turn_idx"], r["text"]) for r in t.read(spark).collect()}
    assert after == before


def test_expire_snapshots_keeps_current_and_deletes_orphans(spark, tmpdir_path):
    t = _table(tmpdir_path, n_buckets=2)
    _apply_n(spark, t, 4)
    # force a rewrite so some early files become orphaned by expiry
    t.compact_small_files(spark, max_files_per_bucket=1)
    before = {(r["conv_id"], r["text"]) for r in t.read(spark).collect()}
    all_versions = t.versions()
    n_deleted = t.expire_snapshots(keep_last=1)
    assert n_deleted > 0
    assert t.versions() == [all_versions[-1]]
    # current read unaffected; every referenced file still exists
    assert {(r["conv_id"], r["text"]) for r in t.read(spark).collect()} == before
    m = t.manifest()
    for fl in m.files.values():
        for fe in fl:
            assert os.path.exists(os.path.join(t.path, fe["path"]))
    # bloom sidecar for the current version survives
    assert os.path.exists(os.path.join(t.path, m.bloom["path"]))


def test_expire_snapshots_noop_when_few_versions(spark, tmpdir_path):
    t = _table(tmpdir_path)
    _apply_n(spark, t, 1)
    assert t.expire_snapshots(keep_last=5) == 0
    assert t.read(spark).count() == 1


def test_auto_compact_bounds_files_per_bucket(spark, tmpdir_path):
    """replay_feed(auto_compact_files=N): an endless MOR stream cannot
    accumulate unbounded delta files — after the drain every bucket holds
    at most N files, and the final state equals an uncompacted replay."""
    from etl_spark.cdc.apply import replay_feed
    from etl_spark.cdc.gen import change_feed_df, write_feed
    from etl_spark.lake.table import LakeTable
    from etl_spark.schema import TRANSCRIPT_SCHEMA

    feed_dir = tmpdir_path + "/feed"
    write_feed(
        change_feed_df(spark, n_events=6000, n_convs=50, max_turns=8,
                       seed=21, n_batches=8),
        feed_dir, n_batches=8,
    )
    t1 = LakeTable.create(tmpdir_path + "/t1", TRANSCRIPT_SCHEMA, n_buckets=4)
    replay_feed(spark, t1, feed_dir, mode="mor", auto_compact_files=2)
    t2 = LakeTable.create(tmpdir_path + "/t2", TRANSCRIPT_SCHEMA, n_buckets=4)
    replay_feed(spark, t2, feed_dir, mode="mor")

    m1, m2 = t1.manifest(), t2.manifest()
    assert max(len(fl) for fl in m1.files.values()) <= 2
    assert max(len(fl) for fl in m2.files.values()) > 2  # control: unbounded
    a = sorted(map(tuple, t1.read(spark).collect()))
    b = sorted(map(tuple, t2.read(spark).collect()))
    assert a == b
    # idempotence ledger survives compaction commits: full re-replay no-ops
    stats = replay_feed(spark, t1, feed_dir, mode="mor", auto_compact_files=2)
    assert all(s.skipped_idempotent for s in stats)


def test_bloom_sidecars_unique_per_writer_and_garbage_collected(spark, tmpdir_path):
    """Sidecar names are writer-unique (an OCC loser can no longer
    overwrite the winner's committed bytes) and sidecars referenced by no
    retained manifest — crashed or conflicted writers — are swept by
    expire_snapshots."""
    import datetime as dt
    import os

    from etl_spark.cdc.apply import apply_batch
    from etl_spark.lake.table import MANIFEST_DIR, LakeTable
    from etl_spark.schema import CHANGE_SCHEMA, TRANSCRIPT_SCHEMA

    t = LakeTable.create(tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=2)
    for i in range(3):
        apply_batch(spark, t, spark.createDataFrame(
            [("I", dt.datetime(2024, 1, 1, 0, 0, i + 1), i + 1, f"c{i}", 0,
              "user", f"v{i}", None, "f")], CHANGE_SCHEMA), f"b{i}")
    paths = set()
    for v in t.versions():
        b = t.manifest(v).bloom
        if b:
            paths.add(b["path"])
    assert len(paths) >= 3  # one sidecar per committing writer, no reuse
    # a crashed writer's orphan sidecar is invisible but must be collected
    mdir = os.path.join(t.path, MANIFEST_DIR)
    stray = os.path.join(mdir, "bloom-v00000099-deadbeef.bin")
    open(stray, "wb").write(b"\x00" * 16)
    t.expire_snapshots(keep_last=2)
    assert not os.path.exists(stray)
    assert t.load_bloom() is not None  # the live sidecar survived


def test_stream_default_bounds_files_without_operator(spark, tmpdir_path):
    """A long MOR stream with NO maintenance flags must keep per-bucket
    file counts (hence point-read fan-in) bounded: run_stream's default
    auto_compact_files policy fires compact_small_files from inside the
    streaming loop itself."""
    import os

    from etl_spark.cdc.gen import change_feed_df, write_feed
    from etl_spark.cdc.stream import DEFAULT_COMPACT_FILES, run_stream
    from etl_spark.lake.table import LakeTable
    from etl_spark.schema import TRANSCRIPT_SCHEMA

    feed_dir = os.path.join(tmpdir_path, "feed")
    # many small segments, each touching most buckets of a tiny table —
    # unbounded MOR appends would pile one file per bucket per trigger:
    # 24 segments x 2 files at maxFilesPerTrigger=1 is 48 triggers, so
    # the default policy must fire more than once to hold the bound
    write_feed(
        change_feed_df(
            spark, n_events=6000, n_convs=40, max_turns=8, seed=33,
            n_batches=24,
        ),
        feed_dir,
        files_per_segment=2,
    )
    t = LakeTable.create(
        os.path.join(tmpdir_path, "lake"), TRANSCRIPT_SCHEMA, n_buckets=4
    )
    run_stream(
        spark, t, feed_dir, os.path.join(tmpdir_path, "ckpt"),
        max_files_per_trigger=1, available_now=True, mode="mor",
    )
    m = t.manifest()
    worst = max(len(fl) for fl in m.files.values())
    assert worst <= DEFAULT_COMPACT_FILES
    # and the stream really was micro-batched enough to have piled files
    assert len(t.commit_log()) >= 20


def test_incremental_resolve_bounded_slices(spark, tmpdir_path):
    """resolve_deltas(max_buckets=N) rewrites only the N most pressured
    buckets per call; the merge-on-read marker clears exactly when a call
    completes the remainder, and reads are LWW-correct throughout."""
    t = _table(tmpdir_path, n_buckets=4)
    for b in range(3):  # overlapping keys across batches -> deltas everywhere
        apply_batch(spark, t, _mk(spark, [
            ("U" if b else "I", _ts(f"2024-01-01T00:0{b}:00"), b * 10 + i,
             f"c{i}", 0, "user", f"v{b}-{i}", None, "f")
            for i in range(12)
        ]), f"b{b}", mode="mor")
    m = t.manifest()
    assert m.needs_reduce
    pressured = sum(1 for fl in m.files.values() if len(fl) > 1)
    assert pressured >= 2
    before = {(r["conv_id"], r["text"]) for r in t.read(spark).collect()}
    n1 = t.resolve_deltas(spark, max_buckets=1)
    assert n1 == 1 and t.manifest().needs_reduce  # incomplete -> marker stays
    assert {(r["conv_id"], r["text"]) for r in t.read(spark).collect()} == before
    total = n1
    for _ in range(8):
        if not t.manifest().needs_reduce:
            break
        total += t.resolve_deltas(spark, max_buckets=1)
    assert not t.manifest().needs_reduce
    assert total == pressured
    assert {(r["conv_id"], r["text"]) for r in t.read(spark).collect()} == before
    # converged layout: every bucket one file's worth of reduced rows
    assert all(len(fl) <= 1 for fl in t.manifest().files.values())
