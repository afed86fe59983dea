"""Structured Streaming driver: micro-batched apply over the feed with
checkpointed offsets; kill/resume without double-apply (FIXTURES §F5)."""

import os

from etl_spark.cdc.gen import change_feed_df, write_feed
from etl_spark.cdc.oracle import expected_final_state, table_as_pandas
from etl_spark.cdc.stream import run_stream
from etl_spark.lake.table import LakeTable
from etl_spark.schema import TRANSCRIPT_SCHEMA
from tests.test_e2e_replay import _assert_state_equal

GEN = dict(
    n_events=3000, n_convs=60, max_turns=8, seed=21,
    delete_ratio=0.06, dup_ratio=0.05, ooo_ratio=0.12, n_batches=5,
)


def test_stream_drain_matches_oracle(spark, tmpdir_path):
    feed_dir = os.path.join(tmpdir_path, "feed")
    write_feed(change_feed_df(spark, **GEN), feed_dir)
    t = LakeTable.create(os.path.join(tmpdir_path, "lake"), TRANSCRIPT_SCHEMA, n_buckets=8)
    run_stream(spark, t, feed_dir, os.path.join(tmpdir_path, "ckpt"),
               max_files_per_trigger=4, available_now=True)
    _assert_state_equal(table_as_pandas(t.read(spark)), expected_final_state(feed_dir))
    assert len(t.commit_log()) >= 2  # really micro-batched


def test_stream_resume_from_checkpoint_no_double_apply(spark, tmpdir_path):
    """Drain the feed once; add new segments; resume with the SAME checkpoint
    — only the new segments apply, old ones aren't re-read; a full restart
    with a FRESH checkpoint no-ops everything via commit-manifest
    idempotence (at-least-once delivery composed into exactly-once)."""
    feed_dir = os.path.join(tmpdir_path, "feed")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    write_feed(change_feed_df(spark, **GEN), feed_dir)
    t = LakeTable.create(os.path.join(tmpdir_path, "lake"), TRANSCRIPT_SCHEMA, n_buckets=8)

    run_stream(spark, t, feed_dir, ckpt, available_now=True)
    n_commits = len(t.commit_log())
    versions = t.manifest().version

    # resume with same checkpoint, nothing new → no work
    run_stream(spark, t, feed_dir, ckpt, available_now=True)
    assert t.manifest().version == versions

    # new segments arrive → only they are applied on resume
    more = change_feed_df(spark, n_events=800, n_convs=60, max_turns=8, seed=22,
                          n_batches=2)
    import pyspark.sql.functions as F
    more = more.withColumn("source_file", F.concat(F.lit("late-"), F.col("source_file")))
    for k in range(2):
        more.filter(F.col("batch") == k).drop("batch").write.mode("overwrite").parquet(
            os.path.join(feed_dir, f"batch={k + 5:05d}"))
    run_stream(spark, t, feed_dir, ckpt, available_now=True)
    assert len(t.commit_log()) > n_commits

    # fresh checkpoint (simulating checkpoint loss) → streaming re-delivers
    # everything, commit manifest no-ops it all: state unchanged
    v_final = t.manifest().version
    run_stream(spark, t, feed_dir, os.path.join(tmpdir_path, "ckpt2"), available_now=True)
    assert t.manifest().version == v_final
    _assert_state_equal(table_as_pandas(t.read(spark)), expected_final_state(feed_dir))


def test_batch_replay_after_stream_noops(spark, tmpdir_path):
    """Segments completed by STREAMING are ledgered under their content
    fingerprint, so a later batch replay of the same feed proves
    same-name-same-content and skips every segment."""
    from etl_spark.cdc.apply import replay_feed

    feed_dir = os.path.join(tmpdir_path, "feed")
    write_feed(change_feed_df(spark, **GEN), feed_dir)
    t = LakeTable.create(os.path.join(tmpdir_path, "lake"), TRANSCRIPT_SCHEMA, n_buckets=8)
    run_stream(spark, t, feed_dir, os.path.join(tmpdir_path, "ckpt"),
               max_files_per_trigger=4, available_now=True)
    v = t.manifest().version
    stats = replay_feed(spark, t, feed_dir)
    assert stats and all(s.skipped_idempotent for s in stats)
    assert t.manifest().version == v


def test_stream_after_batch_replay_noops(spark, tmpdir_path):
    """The reverse order: segments ledgered by a batch REPLAY must satisfy
    the stream's segment-immutability check (no false SegmentReuseError
    on an untouched parquet segment) and no-op on a fresh checkpoint."""
    from etl_spark.cdc.apply import replay_feed

    feed_dir = os.path.join(tmpdir_path, "feed")
    write_feed(change_feed_df(spark, **GEN), feed_dir)
    t = LakeTable.create(os.path.join(tmpdir_path, "lake"), TRANSCRIPT_SCHEMA, n_buckets=8)
    replay_feed(spark, t, feed_dir, mode="mor")
    v = t.manifest().version
    run_stream(spark, t, feed_dir, os.path.join(tmpdir_path, "ckpt"),
               max_files_per_trigger=4, mode="mor", available_now=True)
    assert t.manifest().version == v
    _assert_state_equal(table_as_pandas(t.read(spark)), expected_final_state(feed_dir))


def test_segment_name_reuse_refused(spark, tmpdir_path):
    """Two different feeds whose segment names collide: the second replay
    must REFUSE (SegmentReuseError), never silently skip the new data —
    segment names are immutable by contract."""
    import pytest

    from etl_spark.cdc.apply import SegmentReuseError, replay_feed

    feed1 = os.path.join(tmpdir_path, "f1")
    feed2 = os.path.join(tmpdir_path, "f2")
    write_feed(change_feed_df(spark, n_events=800, n_convs=30, max_turns=6,
                              seed=1, n_batches=2), feed1)
    write_feed(change_feed_df(spark, n_events=800, n_convs=30, max_turns=6,
                              seed=2, n_batches=2), feed2)  # same names!
    t = LakeTable.create(os.path.join(tmpdir_path, "lake"), TRANSCRIPT_SCHEMA, n_buckets=8)
    replay_feed(spark, t, feed1)
    v = t.manifest().version
    with pytest.raises(SegmentReuseError):
        replay_feed(spark, t, feed2)
    assert t.manifest().version == v  # nothing half-applied before the raise


def test_progress_telemetry_one_row_per_trigger(spark, tmpdir_path):
    """Per-trigger progress table: one row per trigger, counters satisfy
    the dispositions invariant, throughput recorded; a redelivery drain
    records skip/no-op rows instead of nothing (liveness is a signal)."""
    import os

    from pyspark.sql import functions as F

    from etl_spark.cdc.gen import change_feed_df, write_feed
    from etl_spark.cdc.stream import progress_df, run_stream
    from etl_spark.lake.table import LakeTable
    from etl_spark.schema import TRANSCRIPT_SCHEMA

    feed = os.path.join(tmpdir_path, "pfeed")
    write_feed(
        change_feed_df(spark, n_events=6000, n_convs=80, max_turns=8,
                       seed=91, n_batches=3),
        feed, files_per_segment=2,
    )
    table = LakeTable.create(
        os.path.join(tmpdir_path, "plake"), TRANSCRIPT_SCHEMA, n_buckets=4
    )
    ck = os.path.join(tmpdir_path, "pck")
    run_stream(spark, table, feed, ck, max_files_per_trigger=1, mode="mor")
    p = progress_df(spark, os.path.join(ck, "_progress"))
    rows = p.orderBy("trigger_no").collect()
    # one row per trigger, triggers numbered consecutively from 0
    assert [r["trigger_no"] for r in rows] == list(range(len(rows)))
    applied_rows = [r for r in rows if not r["no_new_files"]]
    assert len(applied_rows) >= 3  # one per segment at maxFilesPerTrigger=1
    for r in applied_rows:
        assert r["events_in"] == (
            r["applied"] + r["failed"] + r["late_dropped"] + r["dup_dropped"]
        )
        assert r["wall_sec"] > 0 and r["events_per_sec"] > 0
        assert r["batch_id"]
    feed_rows = spark.read.parquet(f"{feed}/*").count()
    assert p.agg(F.sum("events_in")).first()[0] == feed_rows

    # fresh checkpoint = full redelivery: ledger no-ops every batch, but
    # each trigger still records a row (skipped or no-new-files)
    ck2 = os.path.join(tmpdir_path, "pck2")
    run_stream(spark, table, feed, ck2, max_files_per_trigger=1, mode="mor")
    p2 = progress_df(spark, os.path.join(ck2, "_progress")).collect()
    assert p2 and all(r["skipped_idempotent"] or r["no_new_files"] for r in p2)

    # restart of the SAME checkpoint: numbering continues (no duplicate
    # trigger_no in one file), appended rows are no-op records
    n_before = len(rows)
    run_stream(spark, table, feed, ck, max_files_per_trigger=1, mode="mor")
    rows2 = p.orderBy("trigger_no").collect()
    assert [r["trigger_no"] for r in rows2] == list(range(len(rows2)))
    assert len(rows2) >= n_before


def test_plus_and_percent_in_file_names_apply(spark, tmpdir_path):
    """Files whose names contain '+' or percent-encodable characters must
    have their ROWS applied, not just their names ledgered — the
    one-sided-normalization silent-loss case from the round-4 review
    (Spark's url_decode form-decodes '+' to space; Python unquote does
    not)."""
    import os

    from etl_spark.cdc.gen import change_feed_df, write_feed
    from etl_spark.cdc.stream import run_stream
    from etl_spark.lake.table import LakeTable
    from etl_spark.schema import TRANSCRIPT_SCHEMA

    feed = os.path.join(tmpdir_path, "qfeed")
    write_feed(
        change_feed_df(spark, n_events=2000, n_convs=40, max_turns=6,
                       seed=13, n_batches=1),
        feed,
    )
    seg = os.path.join(feed, sorted(os.listdir(feed))[0])
    parts = [f for f in sorted(os.listdir(seg)) if f.endswith(".parquet")]
    assert len(parts) >= 2, "need two part files to rename"
    os.rename(os.path.join(seg, parts[0]), os.path.join(seg, "part-a+b.parquet"))
    os.rename(os.path.join(seg, parts[1]), os.path.join(seg, "part c d.parquet"))
    feed_rows = spark.read.parquet(f"{feed}/*").count()

    table = LakeTable.create(
        os.path.join(tmpdir_path, "qlake"), TRANSCRIPT_SCHEMA, n_buckets=2
    )
    run_stream(spark, table, feed, os.path.join(tmpdir_path, "qck"), mode="mor")
    from etl_spark.cdc.stream import progress_df

    p = progress_df(spark, os.path.join(tmpdir_path, "qck", "_progress"))
    from pyspark.sql import functions as F

    assert p.agg(F.sum("events_in")).first()[0] == feed_rows
    # every file ledgered AND every row applied (idempotent re-drain)
    run_stream(spark, table, feed, os.path.join(tmpdir_path, "qck2"), mode="mor")
    p2 = progress_df(spark, os.path.join(tmpdir_path, "qck2", "_progress")).collect()
    assert all(r["skipped_idempotent"] or r["no_new_files"] for r in p2)


def test_file_appended_to_completed_segment_refused(spark, tmpdir_path):
    """run_stream must refuse (not silently drop) a file that lands in a
    segment AFTER the segment completed — the single-table port of the
    route_stream immutability check (round-4 ADVICE, medium)."""
    import shutil

    import pytest

    feed = os.path.join(tmpdir_path, "ifeed")
    write_feed(
        change_feed_df(spark, n_events=2000, n_convs=40, max_turns=6,
                       seed=31, n_batches=1),
        feed,
    )
    table = LakeTable.create(
        os.path.join(tmpdir_path, "ilake"), TRANSCRIPT_SCHEMA, n_buckets=2
    )
    run_stream(spark, table, feed, os.path.join(tmpdir_path, "ick"), mode="mor")
    assert table.committed_segments()  # segment completed under its fp

    # a producer keeps writing into the completed segment
    seg = os.path.join(feed, sorted(os.listdir(feed))[0])
    src = [f for f in sorted(os.listdir(seg)) if f.endswith(".parquet")][0]
    shutil.copy(
        os.path.join(seg, src), os.path.join(seg, "part-zzz-late.parquet")
    )
    with pytest.raises(Exception, match="immutable"):
        run_stream(
            spark, table, feed, os.path.join(tmpdir_path, "ick"), mode="mor"
        )


def test_zero_row_parquet_file_commits_as_empty(spark, tmpdir_path):
    """A producer legitimately writing a zero-row parquet file (an empty
    partition) must NOT crash the stream into a redelivery loop: the
    expect-rows guard footer-probes the matched files and commits a
    counters-only version that ledgers them (round-4 ADVICE, low)."""
    import pyarrow.parquet as pq

    feed = os.path.join(tmpdir_path, "zfeed")
    write_feed(
        change_feed_df(spark, n_events=1500, n_convs=30, max_turns=6,
                       seed=37, n_batches=1),
        feed,
    )
    table = LakeTable.create(
        os.path.join(tmpdir_path, "zlake"), TRANSCRIPT_SCHEMA, n_buckets=2
    )
    ck = os.path.join(tmpdir_path, "zck")
    run_stream(spark, table, feed, ck, mode="mor")
    rows_before = table.read(spark).count()

    # a NEW segment holding only a zero-row file (schema cloned from a
    # real feed file's footer)
    seg0 = os.path.join(feed, sorted(os.listdir(feed))[0])
    src = [f for f in sorted(os.listdir(seg0)) if f.endswith(".parquet")][0]
    sch = pq.read_schema(os.path.join(seg0, src))
    empty_seg = os.path.join(feed, "batch=00099")
    os.makedirs(empty_seg)
    pq.write_table(
        sch.empty_table(), os.path.join(empty_seg, "part-empty.parquet")
    )

    run_stream(spark, table, feed, ck, mode="mor")  # must not raise
    assert table.read(spark).count() == rows_before
    # the empty file is ledgered: a full redelivery (fresh checkpoint)
    # no-ops instead of retrying it forever
    v = table.manifest().version
    run_stream(spark, table, feed, os.path.join(tmpdir_path, "zck2"), mode="mor")
    assert table.manifest().version == v


def test_new_files_predicate_applied_sibling_excluded(spark, tmpdir_path):
    """Form decoding collides 'a+b.parquet' with 'a b.parquet'; rows of an
    already-applied sibling must not re-enter the batch via the decoded
    variant set (round-4 ADVICE, low)."""
    from pyspark.sql import functions as F

    from etl_spark.cdc.apply import new_files_predicate

    seg = os.path.join(tmpdir_path, "feedp", "s")
    os.makedirs(seg)
    for fn in ("a+b.parquet", "a b.parquet"):
        open(os.path.join(seg, fn), "w").close()
    df = spark.createDataFrame(
        [("s/a+b.parquet", 1), ("s/a b.parquet", 2)], ["__file", "v"]
    )
    feed_dir = os.path.join(tmpdir_path, "feedp")

    # want the space file; the '+' sibling was already applied — its rows
    # must be excluded even though url_decode('a+b')=='a b' lands in want
    got = df.filter(
        new_files_predicate(
            ["s/a b.parquet"], feed_dir=feed_dir,
            rel_applied=["s/a+b.parquet"],
        )
    ).collect()
    assert [r["v"] for r in got] == [2]
    # and the wanted '+' file still matches itself (the round-4 fix held)
    got2 = df.filter(
        new_files_predicate(
            ["s/a+b.parquet"], feed_dir=feed_dir,
            rel_applied=["s/a b.parquet"],
        )
    ).collect()
    assert [r["v"] for r in got2] == [1]


def test_progress_df_dedup_by_batch_id(spark, tmpdir_path):
    """batch_id is the telemetry aggregation identity: a crash between the
    table commit and the JSONL append yields a second (skip) row for the
    same batch on redelivery — progress_df dedups to the FIRST recorded
    row per batch so sums never double-count (round-4 ADVICE, low)."""
    import json

    from pyspark.sql import functions as F

    from etl_spark.cdc.stream import progress_df

    prog = os.path.join(tmpdir_path, "_progress")
    os.makedirs(prog)
    base = dict(started_at="2026-01-01 00:00:00.000000", wall_sec=1.0,
                failed=0, late_dropped=0, dup_dropped=0,
                no_new_files=False)
    rows = [
        dict(base, trigger_no=0, epoch_id=0, batch_id="b1", events_in=100,
             applied=100, events_per_sec=100.0, skipped_idempotent=False),
        # crash-redelivery of b1: skip row, zero counters
        dict(base, trigger_no=1, epoch_id=1, batch_id="b1", events_in=0,
             applied=0, events_per_sec=0.0, skipped_idempotent=True),
        dict(base, trigger_no=2, epoch_id=2, batch_id="b2", events_in=50,
             applied=50, events_per_sec=50.0, skipped_idempotent=False),
        # two liveness rows (batch_id NULL) are BOTH kept
        dict(base, trigger_no=3, epoch_id=3, batch_id=None, events_in=0,
             applied=0, events_per_sec=0.0, skipped_idempotent=False,
             no_new_files=True),
        dict(base, trigger_no=4, epoch_id=4, batch_id=None, events_in=0,
             applied=0, events_per_sec=0.0, skipped_idempotent=False,
             no_new_files=True),
    ]
    with open(os.path.join(prog, "progress.jsonl"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    d = progress_df(spark, prog)
    assert d.count() == 4  # b1 deduped to its first (real-counter) row
    assert d.agg(F.sum("events_in")).first()[0] == 150
    assert progress_df(spark, prog, dedup=False).count() == 5


def test_progress_fold_into_snapshot_table(spark, tmpdir_path):
    """Opt-in periodic fold of the JSONL progress log into a
    pointer-swapped parquet table: contents equal the deduped
    progress_df, the final drain fold leaves the table current, and
    re-folding is idempotent (round-4 VERDICT ask #8)."""
    from pyspark.sql import functions as F

    from etl_spark.cdc.stream import fold_progress, folded_progress_df, progress_df

    feed = os.path.join(tmpdir_path, "ffeed")
    write_feed(
        change_feed_df(spark, n_events=4000, n_convs=60, max_turns=8,
                       seed=51, n_batches=3),
        feed, files_per_segment=2,
    )
    t = LakeTable.create(
        os.path.join(tmpdir_path, "flake"), TRANSCRIPT_SCHEMA, n_buckets=4
    )
    ck = os.path.join(tmpdir_path, "fck")
    run_stream(spark, t, feed, ck, max_files_per_trigger=1, mode="mor",
               progress_fold_every=2)
    prog = os.path.join(ck, "_progress")
    folded = folded_progress_df(spark, prog + "_table")
    raw = progress_df(spark, prog)
    cols = ["trigger_no", "batch_id", "events_in", "applied"]
    assert sorted(map(tuple, folded.select(cols).collect())) == sorted(
        map(tuple, raw.select(cols).collect())
    )
    assert folded.agg(F.sum("events_in")).first()[0] == \
        spark.read.parquet(f"{feed}/*").count()
    # idempotent re-fold
    n = fold_progress(spark, prog)
    assert folded_progress_df(spark, prog + "_table").count() == n
