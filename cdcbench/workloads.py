"""The benchmark's workloads. Each drives the engine only through its
public entry points (``replay_feed``, ``run_stream``, ``LakeTable.read`` /
``point_read``) in a closed loop: the next batch is handed over only after
the previous call returned.

A workload's feed has ``warm + timed`` segments. The first ``warm`` are
applied during set-up, at the workload's own batch size, so JIT and cache
warm-up do not land in the timed samples. Work is fixed by ``(seed,
seconds)``: the number of timed segments is ``seconds`` times a nominal
rate, so a given seed always delivers the same events.
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import time
from dataclasses import dataclass, field

import check
from feedgen import Feed, FeedSpec
from proc import Sampler, tree_usage
from tracing import ProgressCollector, Tracer, wrap_apply_batch

N_BUCKETS = 16


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: Tracer
    sampler: Sampler
    out: "Outcome"


@dataclass
class Outcome:
    """Raw samples a workload hands back to the runner."""

    setup_end: float = 0.0  # wall time of the first timed call
    events: int = 0  # events delivered in the timed phase
    ingest_wall_s: float = 0.0
    ingest_cpu_s: float = 0.0
    batch_s: list[float] = field(default_factory=list)
    point_s: list[float] = field(default_factory=list)
    scan_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    checks: list[dict] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    warmup_s: float = 0.0


class Op:
    """Counts one attempted operation; an exception marks it failed."""

    def __init__(self, out: Outcome):
        self.out = out

    def __enter__(self):
        self.out.attempted += 1

    def __exit__(self, et, ev, tb):
        if et is not None and issubclass(et, Exception):
            self.out.failed += 1
            self.out.errors.append(f"{et.__name__}: {ev}")
            raise StopRun from ev


class StopRun(Exception):
    """Raised after a failed operation: the rest of the run is skipped."""


def _scan(table, spark) -> None:
    table.read(spark).write.format("noop").mode("overwrite").save()


def _timed_reads(
    ctx: Ctx, table, keys: list[str], n_scans: int, point_s: list, scan_s: list
) -> list[int]:
    """Point reads of ``keys`` alternating with ``n_scans`` full reads,
    each timed; returns the point-read counts."""
    counts = []
    for i in range(max(len(keys), n_scans)):
        if i < len(keys):
            with Op(ctx.out), ctx.tracer.span("lake.table.point_read", conv_id=keys[i]):
                t0 = time.perf_counter()
                counts.append(table.point_read(ctx.spark, keys[i]).count())
                point_s.append(time.perf_counter() - t0)
        if i < n_scans:
            with Op(ctx.out), ctx.tracer.span("lake.table.read"):
                t0 = time.perf_counter()
                _scan(table, ctx.spark)
                scan_s.append(time.perf_counter() - t0)
    return counts


def _progress_time(p: dict) -> float:
    """Start of the trigger a Spark progress report describes."""
    return datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def point_checks(ctx: Ctx, table, feed_dir: str, rounds: list) -> list[dict]:
    """``rounds``: (segments delivered, keys read, counts read) per round
    of point reads. Every count is checked against the oracle state after
    that round's segments; the last three distinct keys of the last round
    are re-read and their rows compared with the oracle's (each re-read
    plans a lookup of its own, ~1 s)."""
    bad = [
        (c, got, want)
        for prefix, ks, counts in rounds
        for c, got, want in zip(ks, counts, check.conv_counts(feed_dir, prefix, ks))
        if got != want
    ]
    keys = list(dict.fromkeys(reversed(rounds[-1][1])))[:3]
    last = table.point_read(ctx.spark, keys[0])
    for k in keys[1:]:
        last = last.unionByName(table.point_read(ctx.spark, k))
    return [
        {"check": "every point-read count == oracle", "ok": not bad, "mismatches": bad[:5]},
        check.point_rows_vs_oracle(last.toArrow(), feed_dir, keys),
    ]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def _median_call_s(fn) -> float:
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def table_layers(ctx: Ctx, table, keys: list[str], events_total: int) -> dict:
    """lake.table / lake.merge figures read off the finished table."""
    m = table.manifest()
    plans = [table.plan_point_lookup(ctx.spark, k) for k in keys]
    return {
        "lake.table.manifest_s": _median_call_s(table.manifest),
        "lake.table.is_committed_s": _median_call_s(lambda: table.is_committed("absent")),
        "lake.table.versions": len(table.versions()),
        "lake.table.files_per_bucket_max": max(len(fl) for fl in m.files.values()),
        "lake.table.point_files_scanned_frac": statistics.fmean(
            len(p["files"]) / max(1, p["files_total"]) for p in plans
        ),
        "lake.merge.bytes_written_per_event": _dir_bytes(table.path) / events_total,
    }


def merge_layers(calls: list) -> dict:
    """Per-call merge figures from the MergeStats of the measured table.
    Phase times are means: the engine rounds them to 1 ms, and a median
    of rounded values can repeat exactly from run to run."""
    stats = [s for _, s in calls if not s.skipped_idempotent]
    ev = sum(s.events_in for s in stats)
    out = {
        "lake.merge.touched_buckets_per_batch": statistics.fmean(
            len(s.touched_buckets) for s in stats
        ),
        "cdc.dedup.dup_dropped_frac": sum(s.dup_dropped for s in stats) / ev,
        "lake.merge.stale_frac": sum(s.stale_skipped for s in stats) / ev,
        "cdc.apply.jobs_per_batch": statistics.fmean(sp["jobs"] for sp, _ in calls),
        "cdc.apply.wall_s": statistics.fmean(sp["end"] - sp["start"] for sp, _ in calls),
    }
    for ph in ("scan", "plan", "write", "commit"):
        vals = [s.phase_sec[ph] for s in stats if ph in s.phase_sec]
        if vals:
            out[f"lake.merge.{ph}_s"] = statistics.fmean(vals)
    return out


class TrickleStream:
    """Many ~500-event one-file segments drained by one ``run_stream``
    (MOR, one file per trigger, the conversation-summary MV refreshed every
    ``mv_every`` triggers, compaction past ``compact_files`` files per
    bucket). Fixed per-trigger costs dominate: job launches, file-ledger
    resolve, manifest re-parses, and the MV refresh in the tail. The
    replica sidecar is left out: it has no cadence and, synced on every
    trigger, it left too few triggers per run for a steady median (see
    README.md)."""

    name = "trickle_stream"
    warm = 3
    nominal_s = 2.2  # per trigger, MV refresh and compaction amortised
    mv_every = 8
    # the engine's default (16) first compacts at trigger 17, later than
    # a run reaches; 8 makes compaction fire inside the timed window
    compact_files = 8
    # hot keys only: hot and cold keys scan different file counts, and a
    # median over two key classes straddles their modes
    n_point, n_scan = 8, 8
    # untimed point and full reads first: with a single one, read walls
    # still fell by up to a third over the timed reads
    n_warm_reads = 3

    def spec(self, seconds: int) -> FeedSpec:
        return FeedSpec(
            n_segments=self.warm + max(3, round(seconds / self.nominal_s)),
            events_per_segment=500, n_convs=20_000, max_turns=24, zipf_s=1.1,
            op_shares=(0.45, 0.50, 0.05), dup_ratio=0.05, ooo_ratio=0.10,
            files_per_segment=1,
        )

    def run(self, ctx: Ctx, feed: Feed, stage: str) -> None:
        from etl_spark.cdc.stream import run_stream
        from etl_spark.lake.mv import ConvSummaryMV
        from etl_spark.lake.table import LakeTable
        from etl_spark.schema import TRANSCRIPT_SCHEMA

        spark, tr, w, out = ctx.spark, ctx.tracer, ctx.work, ctx.out
        feed_dir, ckpt, mv_path = f"{w}/feed", f"{w}/ckpt", f"{w}/mv"
        os.rename(stage, feed_dir)  # the whole backlog is delivered up front
        table = LakeTable.create(f"{w}/table", TRANSCRIPT_SCHEMA, n_buckets=N_BUCKETS)
        segs = sorted(os.listdir(feed_dir))
        calls: list = []
        restore, coll = None, None
        if tr.enabled:
            restore = wrap_apply_batch(tr, table.path, calls)
            coll = ProgressCollector(tr.jobs)
            spark.streams.addListener(coll)
        t_start = time.time()
        try:
            with Op(out), tr.span("cdc.stream.run_stream") as sp:
                tr.default_parent = sp.get("id")
                q = run_stream(
                    spark, table, feed_dir, ckpt, max_files_per_trigger=1,
                    available_now=True, mode="mor", mv_path=mv_path,
                    mv_refresh_every=self.mv_every, auto_compact_files=self.compact_files,
                )
                t_end = time.time()
                prog = sorted((json.loads(p.json) for p in q.recentProgress),
                              key=lambda p: p["batchId"])
                if len(prog) != len(segs) or any(p["numInputRows"] == 0 for p in prog):
                    raise RuntimeError(
                        f"expected {len(segs)} one-segment triggers, got {len(prog)}"
                    )
        finally:
            if restore:
                restore()
        cpu_end = tree_usage()[0]
        out.attempted += len(prog) - 1  # each trigger is an operation; the call counted one
        timed = prog[self.warm :]
        out.setup_end = _progress_time(timed[0])
        out.warmup_s = out.setup_end - t_start
        # per trigger as Spark times it: offsets, planning, the engine's
        # batch function with its sidecars, and the offset commit
        out.batch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in timed]
        out.events = len(timed) * feed.spec.events_per_segment
        # the drain's closing MV catch-up refresh and query stop included
        out.ingest_wall_s = t_end - out.setup_end
        out.ingest_cpu_s = cpu_end - ctx.sampler.cpu_at(out.setup_end)

        # the read path warms up untimed; then point and full reads
        # alternate, so each kind is spread over the whole read window
        n = self.n_warm_reads
        all_keys = feed.hot_and_cold_convs(n + self.n_point, 0, ctx.seed)
        warm, keys = Outcome(), all_keys[n:]
        first = _timed_reads(ctx, table, all_keys[:n], n, warm.point_s, warm.scan_s)
        counts = _timed_reads(ctx, table, keys, self.n_scan, out.point_s, out.scan_s)
        out.checks = [
            check.table_vs_oracle(table.read(spark).toArrow(), feed_dir),
            check.mv_vs_oracle(ConvSummaryMV(mv_path).read(spark).toArrow(), feed_dir),
            *point_checks(ctx, table, feed_dir, [(segs, all_keys, first + counts)]),
        ]
        if tr.enabled:
            coll.drain(len(prog))
            spark.streams.removeListener(coll)
            with open(f"{ckpt}/_progress/progress.jsonl") as f:
                rows = [json.loads(ln) for ln in f]
            out.layers = {
                **merge_layers(calls),
                **table_layers(ctx, table, keys, len(segs) * feed.spec.events_per_segment),
                **self._stream_layers(tr, coll, rows, sp, t_end - t_start),
            }

    def _stream_layers(self, tr, coll, rows, run_span, run_wall) -> dict:
        """Per-trigger phases from Spark's progress reports and the engine's
        progress rows, over the timed triggers; trigger spans are added as
        children of the run_stream span."""
        prog = sorted(coll.progress, key=lambda p: p["batchId"])
        for p in prog:
            t0 = _progress_time(p)
            tr.add("cdc.stream.trigger", t0, t0 + p["durationMs"]["triggerExecution"] / 1e3,
                   run_span["id"], batch_id=p["batchId"], derived=True)
        timed = [p for p in prog if p["batchId"] >= self.warm]
        by_bid = {r["epoch_id"]: r for r in rows}

        def med(f) -> float:
            return statistics.median(f(p["durationMs"]) / 1e3 for p in timed)

        mv = [r for r in rows if r.get("mv_arith") is not None]
        arith = sum(r["mv_arith"] for r in mv)
        return {
            "cdc.stream.jobs_per_trigger": run_span["jobs"] / len(prog),
            "cdc.stream.source_s": med(lambda d: d.get("latestOffset", 0) + d.get("getBatch", 0)),
            "cdc.stream.planning_s": med(lambda d: d.get("queryPlanning", 0)),
            "cdc.stream.addbatch_s": med(lambda d: d.get("addBatch", 0)),
            "cdc.stream.checkpoint_s": med(lambda d: d.get("walCommit", 0) + d.get("commitOffsets", 0)),
            "cdc.stream.idle_s": run_wall - sum(p["durationMs"]["triggerExecution"] / 1e3 for p in prog),
            "cdc.stream.apply_s": statistics.median(by_bid[p["batchId"]]["wall_sec"] for p in timed),
            "cdc.stream.sidecar_s": statistics.median(
                p["durationMs"]["addBatch"] / 1e3 - by_bid[p["batchId"]]["wall_sec"] for p in timed
            ),
            "lake.mv.arith_frac": arith / max(1, arith + sum(r["mv_reagg"] for r in mv)),
        }


class UpsertServe:
    """An update-heavy feed on a small hot working set, applied to a COW
    table in medium segments; after every segment a few point reads
    alternating with a few full reads. Exercises the COW join+rewrite
    and the read path together, with reads spread over the whole run."""

    name = "upsert_serve"
    # batch walls still fall by ~20% over the segments after a 2-segment
    # warm-up; a third keeps more of that slope out of the timed samples
    warm = 3
    nominal_s = 5.0  # per segment, its reads included
    n_hot, n_cold = 2, 1  # point reads per segment
    n_scan = 3  # full reads per segment

    def spec(self, seconds: int) -> FeedSpec:
        return FeedSpec(
            n_segments=self.warm + max(2, round(seconds / self.nominal_s)),
            events_per_segment=6_000, n_convs=2_000, max_turns=16, zipf_s=1.2,
            op_shares=(0.20, 0.65, 0.15), dup_ratio=0.05, ooo_ratio=0.10,
            files_per_segment=2,
        )

    def run(self, ctx: Ctx, feed: Feed, stage: str) -> None:
        from etl_spark.cdc.apply import replay_feed
        from etl_spark.lake.table import LakeTable
        from etl_spark.schema import TRANSCRIPT_SCHEMA

        spark, tr, w, out = ctx.spark, ctx.tracer, ctx.work, ctx.out
        feed_dir = f"{w}/feed"
        os.makedirs(feed_dir)
        table = LakeTable.create(f"{w}/table", TRANSCRIPT_SCHEMA, n_buckets=N_BUCKETS)
        segs = sorted(os.listdir(stage))
        calls: list = []
        restore = wrap_apply_batch(tr, table.path, calls) if tr.enabled else None
        count_checks, keys = [], []
        t_start = time.time()
        try:
            for r, seg in enumerate(segs):
                timed = r >= self.warm
                if r == self.warm:
                    out.setup_end = time.time()
                    out.warmup_s = out.setup_end - t_start
                os.rename(f"{stage}/{seg}", f"{feed_dir}/{seg}")
                sample = out if timed else Outcome()
                with Op(out), tr.span("cdc.replay_feed", segment=seg):
                    c0, t0 = tree_usage()[0], time.perf_counter()
                    replay_feed(spark, table, feed_dir, mode="cow")
                    wall, c1 = time.perf_counter() - t0, tree_usage()[0]
                if timed or r == 0:  # the read path is warmed up once
                    keys = feed.hot_and_cold_convs(self.n_hot, self.n_cold, ctx.seed * 1000 + r)
                    counts = _timed_reads(
                        ctx, table, keys, self.n_scan, sample.point_s, sample.scan_s
                    )
                    count_checks.append((segs[: r + 1], keys, counts))
                if timed:
                    out.batch_s.append(wall)
                    out.ingest_wall_s += wall
                    out.ingest_cpu_s += c1 - c0
                    out.events += feed.spec.events_per_segment
        finally:
            if restore:
                restore()

        out.checks = [
            check.table_vs_oracle(table.read(spark).toArrow(), feed_dir),
            *point_checks(ctx, table, feed_dir, count_checks),
        ]
        if tr.enabled:
            out.layers = {
                **merge_layers(calls),
                **table_layers(ctx, table, keys, len(segs) * feed.spec.events_per_segment),
            }


WORKLOADS = {w.name: w for w in (TrickleStream(), UpsertServe())}
