"""Multi-table binlog routing (cdc/route.py): one interleaved feed applied
to N catalog tables — per-table exactly-once, unknown-table policy, and
atomic cross-table publication via the catalog transaction."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from etl_spark.cdc.apply import BatchFailedError
from etl_spark.cdc.gen import change_feed_df, write_feed
from etl_spark.cdc.route import UnknownRouteError, replay_feed_routed, route_batch
from etl_spark.lake import LakeCatalog
from etl_spark.schema import CHANGE_SCHEMA, TRANSCRIPT_SCHEMA


@pytest.fixture()
def cat(tmpdir_path):
    c = LakeCatalog(os.path.join(tmpdir_path, "cat"))
    c.create_table("raw.chat", TRANSCRIPT_SCHEMA, n_buckets=4)
    c.create_table("raw.agent", TRANSCRIPT_SCHEMA, n_buckets=4)
    return c


def _tagged(spark, n_events, seed):
    """A feed whose rows route by hash to raw.chat / raw.agent."""
    feed = change_feed_df(
        spark, n_events=n_events, n_convs=80, max_turns=8, seed=seed, n_batches=2
    )
    return feed.withColumn(
        "tbl",
        F.when(F.xxhash64("conv_id") % 2 == 0, F.lit("raw.chat"))
        .otherwise(F.lit("raw.agent")),
    )


def _batch_of(df, b):
    return df.filter(F.col("batch") == b).drop("batch")


def test_routes_and_is_idempotent(spark, cat):
    feed = _tagged(spark, 6000, seed=5)
    b0 = _batch_of(feed, 0)
    out = route_batch(spark, cat, b0, "seg-000")
    assert set(out) == {"raw.chat", "raw.agent"}
    n_chat = cat.load_table("raw.chat").read(spark).count()
    n_agent = cat.load_table("raw.agent").read(spark).count()
    assert n_chat > 0 and n_agent > 0
    # the split is a partition of the batch: per-table LWW state equals
    # applying the slice alone (checked via the row counts after re-run)
    out2 = route_batch(spark, cat, b0, "seg-000")
    assert all(s.skipped_idempotent for k, s in out2.items())
    assert cat.load_table("raw.chat").read(spark).count() == n_chat
    assert cat.load_table("raw.agent").read(spark).count() == n_agent


def test_unknown_table_policy(spark, cat):
    rows = [
        ("I", dt.datetime(2024, 1, 1, 0, 0, 1), 1, "c-1", 0, "user", "hi", None, "f"),
    ]
    b = spark.createDataFrame(rows, CHANGE_SCHEMA).withColumn(
        "tbl", F.lit("raw.nope")
    )
    with pytest.raises(UnknownRouteError):
        route_batch(spark, cat, b, "seg-x")
    # nothing was applied by the failed batch
    assert cat.load_table("raw.chat").read(spark).count() == 0
    out = route_batch(spark, cat, b, "seg-x", on_unknown="skip")
    assert out["!unknown"].events_in == 1
    assert cat.load_table("raw.chat").read(spark).count() == 0

    # a NULL or empty route value names no table: unknown too — refused,
    # or counted under '!unknown' — never dropped uncounted
    blank = spark.createDataFrame(rows, CHANGE_SCHEMA).withColumn(
        "tbl", F.lit(None).cast("string")
    )
    with pytest.raises(UnknownRouteError):
        route_batch(spark, cat, blank, "seg-n")
    blank = blank.unionByName(blank.withColumn("tbl", F.lit("")))
    out = route_batch(spark, cat, blank, "seg-n", on_unknown="skip")
    assert out["!unknown"].events_in == 2

    # the zero-row guard rides the route probe, checked before any apply:
    # an empty batch that should have had rows commits nothing anywhere;
    # a genuinely empty one commits a counters-only version per owned table
    owned = ["raw.chat", "raw.agent"]
    v0 = {i: cat.load_table(i).current_version() for i in owned}
    empty = b.limit(0)
    with pytest.raises(BatchFailedError):
        route_batch(spark, cat, empty, "seg-e", ensure=owned,
                    expect_rows=lambda: True)
    assert v0 == {i: cat.load_table(i).current_version() for i in owned}
    out = route_batch(spark, cat, empty, "seg-e", ensure=owned,
                      expect_rows=lambda: False)
    assert set(out) == set(owned) and all(s.events_in == 0 for s in out.values())
    assert {i: v0[i] + 1 for i in owned} == {
        i: cat.load_table(i).current_version() for i in owned
    }


def test_transactional_routing_is_atomic(spark, cat):
    feed = _tagged(spark, 4000, seed=9)
    b0 = _batch_of(feed, 0)
    out = route_batch(spark, cat, b0, "seg-000", transactional=True)
    assert set(out) == {"raw.chat", "raw.agent"}
    # catalog-committed readers see both tables' slices together
    assert cat.read_committed(spark, "raw.chat").count() > 0
    assert cat.read_committed(spark, "raw.agent").count() > 0

    # a slice that FAILS validation aborts the whole transaction: neither
    # table advances, no branch junk is left behind
    bad = b0.withColumn("op", F.lit("Z"))
    before = (
        cat.read_committed(spark, "raw.chat").count(),
        cat.read_committed(spark, "raw.agent").count(),
    )
    with pytest.raises(Exception):
        route_batch(spark, cat, bad, "seg-001", transactional=True)
    after = (
        cat.read_committed(spark, "raw.chat").count(),
        cat.read_committed(spark, "raw.agent").count(),
    )
    assert before == after
    assert cat.load_table("raw.chat").list_branches() == {}


def test_replay_feed_routed_matches_per_table_replay(spark, cat, tmpdir_path):
    feed = _tagged(spark, 8000, seed=13)
    feed_dir = os.path.join(tmpdir_path, "mfeed")
    write_feed(feed, feed_dir)
    out = replay_feed_routed(spark, cat, feed_dir)
    assert len(out) == 2  # two segments

    # oracle: global LWW reduction of each table's slice of the whole feed
    import duckdb

    for ident in ("raw.chat", "raw.agent"):
        got = (
            cat.load_table(ident).read(spark)
            .select("conv_id", "turn_idx", "text")
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )
        exp = duckdb.sql(
            f"""
            WITH ev AS (
                SELECT * FROM read_parquet('{feed_dir}/*/*.parquet', union_by_name=true)
                WHERE tbl = '{ident}'
            ),
            r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY conv_id, turn_idx ORDER BY ts DESC, op_seq DESC
                ) rn FROM ev
            )
            SELECT conv_id, turn_idx, text FROM r
            WHERE rn = 1 AND op <> 'D'
            ORDER BY conv_id, turn_idx
            """
        ).df()
        assert got.equals(exp)


def test_route_stream_drains_and_resumes(spark, cat, tmpdir_path):
    from etl_spark.cdc.route import route_stream
    from etl_spark.cdc.stream import progress_df

    feed = _tagged(spark, 6000, seed=21)
    feed_dir = os.path.join(tmpdir_path, "sfeed")
    write_feed(feed, feed_dir)
    ck = os.path.join(tmpdir_path, "ckpt")
    q = route_stream(spark, cat, feed_dir, ck, ["raw.chat", "raw.agent"])
    counts = {
        i: cat.load_table(i).read(spark).count()
        for i in ("raw.chat", "raw.agent")
    }
    assert all(v > 0 for v in counts.values())
    # one progress row per trigger, counters summed over the owned tables
    rows = progress_df(spark, os.path.join(ck, "_progress"), dedup=False).collect()
    assert sorted(r["epoch_id"] for r in rows) == list(
        range(q.lastProgress["batchId"] + 1)
    )
    for r in rows:
        assert r["events_in"] == (
            r["applied"] + r["failed"] + r["late_dropped"] + r["dup_dropped"]
        )
    assert sum(r["events_in"] for r in rows) == spark.read.parquet(
        f"{feed_dir}/*"
    ).count()

    # checkpoint loss: a fresh checkpoint re-delivers everything; the
    # per-table ledgers + LWW make the re-drain a no-op on final state
    route_stream(
        spark, cat, feed_dir, os.path.join(tmpdir_path, "ckpt2"),
        ["raw.chat", "raw.agent"],
    )
    assert counts == {
        i: cat.load_table(i).read(spark).count()
        for i in ("raw.chat", "raw.agent")
    }

    # late-arriving segment: drain the SAME checkpoint again after a new
    # segment lands; only its slices apply
    extra = _tagged(spark, 2000, seed=77).withColumn(
        "batch", F.lit(9)
    )
    write_feed(extra.drop("batch").withColumn("batch", F.lit(0)), feed_dir + "_x")
    os.rename(
        os.path.join(feed_dir + "_x", "batch=00000"),
        os.path.join(feed_dir, "batch=00009"),
    )
    route_stream(spark, cat, feed_dir, ck, ["raw.chat", "raw.agent"])
    after = {
        i: cat.load_table(i).read(spark).count()
        for i in ("raw.chat", "raw.agent")
    }
    assert sum(after.values()) > sum(counts.values())


def test_segment_name_reuse_across_feeds_is_refused(spark, cat, tmpdir_path):
    """The data-loss trap: two different feeds using write_feed's default
    segment names must NOT silently no-op on the second replay."""
    from etl_spark.cdc.apply import SegmentReuseError

    feed_a = os.path.join(tmpdir_path, "feed_a")
    feed_b = os.path.join(tmpdir_path, "feed_b")
    write_feed(_tagged(spark, 3000, seed=31), feed_a)
    write_feed(_tagged(spark, 3000, seed=32), feed_b)  # same segment NAMES
    replay_feed_routed(spark, cat, feed_a)
    with pytest.raises(SegmentReuseError):
        replay_feed_routed(spark, cat, feed_b)
    # identical content re-replay stays an idempotent no-op
    out = replay_feed_routed(spark, cat, feed_a)
    assert all(
        s.skipped_idempotent for per in out.values() for s in per.values()
    )


def test_replay_then_stream_interop_no_reapply(spark, cat, tmpdir_path):
    """A feed applied by batch replay is recognized as applied by a
    subsequent streaming tail of the same directory (shared ledger)."""
    from etl_spark.cdc.route import route_stream

    feed_dir = os.path.join(tmpdir_path, "feed")
    write_feed(_tagged(spark, 4000, seed=41), feed_dir)
    replay_feed_routed(spark, cat, feed_dir)
    v = {i: cat.load_table(i).current_version() for i in ("raw.chat", "raw.agent")}
    route_stream(
        spark, cat, feed_dir, os.path.join(tmpdir_path, "ck"),
        ["raw.chat", "raw.agent"],
    )
    # no new commits: the stream proved every file already applied
    assert v == {
        i: cat.load_table(i).current_version() for i in ("raw.chat", "raw.agent")
    }


def test_include_list_is_enforced(spark, cat, tmpdir_path):
    """Rows routed to an EXISTING catalog table outside the stream's
    include-list must not be written behind its owner's back."""
    from etl_spark.cdc.route import route_stream

    cat.create_table("raw.other", TRANSCRIPT_SCHEMA, n_buckets=2)
    feed = _tagged(spark, 2000, seed=51).withColumn(
        "tbl",
        F.when(F.xxhash64("conv_id") % 3 == 0, F.lit("raw.other")).otherwise(
            F.col("tbl")
        ),
    )
    feed_dir = os.path.join(tmpdir_path, "feed")
    write_feed(feed, feed_dir)
    with pytest.raises(Exception):  # UnknownRouteError inside the stream
        route_stream(
            spark, cat, feed_dir, os.path.join(tmpdir_path, "ck1"),
            ["raw.chat", "raw.agent"],
        )
    assert cat.load_table("raw.other").read(spark).count() == 0
    # skip policy: owned tables apply, the excluded slice is dropped+counted
    route_stream(
        spark, cat, feed_dir, os.path.join(tmpdir_path, "ck2"),
        ["raw.chat", "raw.agent"], on_unknown="skip",
    )
    assert cat.load_table("raw.other").read(spark).count() == 0
    assert cat.load_table("raw.chat").read(spark).count() > 0


def test_empty_segment_dir_is_tolerated(spark, cat, tmpdir_path):
    feed_dir = os.path.join(tmpdir_path, "feed")
    write_feed(_tagged(spark, 2000, seed=61), feed_dir)
    os.makedirs(os.path.join(feed_dir, "batch=00099"))  # mid-write dir
    out = replay_feed_routed(spark, cat, feed_dir)
    assert "batch=00099" not in out and len(out) == 2


def test_file_landing_in_completed_segment_raises(spark, cat, tmpdir_path):
    """A segment ledgered complete is immutable: a file that lands in it
    afterwards (producer kept writing, no _SUCCESS gating) must be refused
    loudly on the next drain, never silently skipped."""
    from etl_spark.cdc.route import route_stream

    feed = _tagged(spark, 4000, seed=33)
    feed_dir = os.path.join(tmpdir_path, "mfeed")
    write_feed(feed, feed_dir)
    ck = os.path.join(tmpdir_path, "mck")
    route_stream(spark, cat, feed_dir, ck, ["raw.chat", "raw.agent"])

    # producer writes one more parquet file into the completed batch=00000
    seg0 = os.path.join(feed_dir, sorted(os.listdir(feed_dir))[0])
    late = _tagged(spark, 300, seed=99).filter(F.col("batch") == 0).drop("batch")
    tmp = os.path.join(tmpdir_path, "late_part")
    late.coalesce(1).write.parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    os.rename(os.path.join(tmp, part), os.path.join(seg0, "zz-late.parquet"))

    # foreachBatch wraps the raise in StreamingQueryException; the
    # SegmentReuseError message must survive into it (loud, attributable)
    with pytest.raises(Exception, match="completion fingerprint"):
        route_stream(
            spark, cat, feed_dir, os.path.join(tmpdir_path, "mck2"),
            ["raw.chat", "raw.agent"],
        )
