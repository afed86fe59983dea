"""Multi-table binlog routing — one interleaved change feed, N lake tables.

A real binlog/WAL tail is not per-table: events for every table in the
source database arrive interleaved in one totally-ordered log, each event
naming its table. The reference has the same shape one level up — a task's
archive names its datatype, and a dispatch map routes it to the right
parser and output table (datatype → parser selection,
/root/reference/parser/parser.go:89-112; per-datatype BigQuery targets,
/root/reference/etl/globals.go:309-323); unknown datatypes fail the task
rather than silently dropping data. This module is the sink-side analog:
split one micro-batch by its ``tbl`` column and apply each slice to its
catalog table with the engine's full per-table contract (validation
budget, LWW dedup, Bloom fast path, exactly-once commit ledger).

Exactly-once composition: every table keeps its OWN commit ledger keyed on
the same ``batch_id`` (the binlog segment), so a crash between table A's
commit and table B's leaves a safely re-runnable batch — A skips
idempotently, B applies. When cross-table ATOMICITY matters (readers must
never observe segment k applied to A but not B), ``transactional=True``
stages every slice on a WAP branch via a catalog transaction and publishes
all tables with ONE pin swap (lake/txn.py) — crash before the swap leaves
nothing visible and recovery rolls the branches back.

Scale shape: the batch is analyzed once (one tiny distinct on the route
column — bounded by the table count, not the row count) and cached across
the per-table applies, so the source is scanned once no matter how many
tables the segment touches. Each apply is the ordinary single-exchange
merge; tables are independent, so a scheduler pool could run them
concurrently, but the applies are already cluster-wide jobs — serial
driver dispatch costs only driver latency, not executor idle time.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from etl_spark.cdc.apply import (
    MergeStats,
    SegmentReuseError,
    _segment_relative,
    apply_batch,
    batch_fingerprint,
    feed_files_nonempty,
)
from etl_spark.cdc.stream import (
    _drain,
    _feed_source,
    _progress_rows_recorded,
    _record_progress,
    _resolve_trigger,
)
from etl_spark.lake.catalog import TableNotFoundError
from etl_spark.lake.merge import _require_expected_rows

ROUTE_COL = "tbl"


class UnknownRouteError(ValueError):
    """The feed named a table the catalog does not know. Failing the batch
    (instead of dropping the slice) mirrors the reference's unknown-datatype
    task error — silent data loss is never the default."""


def route_batch(
    spark: SparkSession,
    catalog,
    batch: DataFrame,
    batch_id: str,
    table_col: str = ROUTE_COL,
    transactional: bool = False,
    on_unknown: str = "fail",  # "fail" | "skip"
    mode: str = "mor",
    include: list[str] | None = None,
    segments: dict[str, str] | None = None,
    ensure: list[str] | None = None,
    segments_cover_batch: bool = False,
    expect_rows=False,  # bool or () -> bool (zero-row path only)
    **apply_kwargs,
) -> dict[str, MergeStats]:
    """Apply one interleaved micro-batch to every table it names.

    ``batch``: CHANGE_SCHEMA columns + ``table_col`` holding catalog
    idents (``ns.table``). Returns {ident: MergeStats} for applied slices
    (idempotent re-runs return the per-table skip stats, same as
    ``apply_batch``). ``on_unknown='skip'`` drops unknown-table slices
    and reports them under the pseudo-key ``'!unknown'`` with a row count
    in ``events_in`` — for feeds that legitimately carry tables this
    consumer does not own (Debezium topic-include-list analog). A NULL
    or empty route value names no table: it is unknown too (reported
    as ``''``), never dropped uncounted.

    ``include``: explicit ownership list — a route value that names an
    EXISTING catalog table outside it is still treated by the
    ``on_unknown`` policy (fail loudly / count + skip), never applied.
    Without it, a feed tagged for another consumer's table would write
    into that table behind its owner's back.

    ``segments``: {segment_name: content_fingerprint} forwarded to every
    slice's commit ledger. Before applying, each routed table is checked
    for a committed segment of the same NAME with a DIFFERENT
    fingerprint — refused loudly (segments are immutable by contract;
    the old skip-by-name behavior silently dropped the new data). A
    slice skips idempotently only when EVERY named segment matches the
    table's ledger (a batch can mix an already-complete segment with new
    files after checkpoint loss — skipping on a partial match would drop
    the new files for that table).

    ``ensure``: idents to apply even when the batch carries no rows for
    them — the empty slice commits a counters-only version that still
    records ``segments``/``input_files``, so every owned table's ledger
    advances in lockstep (the streaming redelivery check needs this).

    ``expect_rows``: the zero-row guard, same bool-or-callable contract
    as ``apply_batch``, checked ONCE for the whole batch on the route
    probe below (before any apply) instead of per slice — an owned
    slice may legitimately be empty under ``ensure``."""
    if table_col not in batch.columns:
        raise ValueError(f"route column {table_col!r} not in batch")
    # one source scan for all slices: cache the (micro-batch-sized) input
    # BEFORE the distinct probe, so the probe materializes the cache and
    # every per-table filter reads memory, not the source
    cached = batch.persist()
    out: dict[str, MergeStats] = {}
    try:
        # bounded collect: distinct route values = number of tables in the
        # segment (tens), never the row count; NULL and '' both map to ''
        routed = {r[0] or "" for r in cached.select(table_col).distinct().collect()}
        # no route values = no rows: the zero-row guard rides this probe
        _require_expected_rows(batch_id, len(routed), expect_rows)
        idents = sorted((routed - {""}) | set(ensure or []))
        tables = {}
        unknown: list[str] = [""] if "" in routed else []
        for ident in idents:
            if include is not None and ident not in include:
                unknown.append(ident)
                continue
            try:
                tables[ident] = catalog.load_table(ident)
            except (TableNotFoundError, KeyError, ValueError):
                unknown.append(ident)
        if unknown and on_unknown != "skip":
            raise UnknownRouteError(
                f"feed routes to unknown/excluded tables {unknown}; create "
                f"them (or add to the include list), or pass "
                f"on_unknown='skip'"
            )

        def _slice(ident: str, t) -> MergeStats:
            if segments:
                fp = t.committed_segments()
                for nm, want in segments.items():
                    if nm in fp and fp[nm] != want:
                        raise SegmentReuseError(
                            f"segment {nm!r} already committed to {ident} "
                            f"with different content (ledger "
                            f"{fp[nm][:12]}…, current {want[:12]}…) — "
                            f"segment names are immutable by contract"
                        )
                # skipping on ledger match is sound only when the caller
                # vouches that `segments` accounts for EVERY row of the
                # batch (replay: one whole segment per call). A streaming
                # trigger can mix a completed segment with files of a
                # still-incomplete one — there the skip would drop the
                # incomplete segment's rows for this table.
                if segments_cover_batch and all(
                    fp.get(nm) == want for nm, want in segments.items()
                ):
                    s = MergeStats(batch_id=batch_id)
                    s.skipped_idempotent = True
                    return s
            return apply_batch(
                spark, t,
                cached.filter(F.col(table_col) == ident).drop(table_col),
                batch_id, mode=mode, segments=segments, **apply_kwargs,
            )

        if transactional:
            txn = catalog.begin()
            try:
                for ident in tables:
                    out[ident] = _slice(ident, txn.table(ident))
                txn.commit()
            except BaseException:
                txn.abort()
                raise
        else:
            for ident, t in tables.items():
                out[ident] = _slice(ident, t)
        if unknown:
            skipped = MergeStats(batch_id=batch_id)
            skipped.events_in = cached.filter(
                F.col(table_col).isNull() | F.col(table_col).isin(*unknown)
            ).count()
            out["!unknown"] = skipped
    finally:
        cached.unpersist()
    return out


def replay_feed_routed(
    spark: SparkSession,
    catalog,
    feed_dir: str,
    table_col: str = ROUTE_COL,
    transactional: bool = False,
    on_unknown: str = "fail",
    mode: str = "mor",
    **apply_kwargs,
) -> dict[str, dict[str, MergeStats]]:
    """Batch replay of a multi-table feed directory (one subdir per binlog
    segment, lexicographic order = arrival order): {segment: {ident:
    stats}}. Resumable by construction — the batch id is the segment's
    CONTENT fingerprint (never its name: a same-named segment from a
    different feed must not be silently skipped) and every routed table
    records the segment + input files in its ledger, so a crash mid-feed
    (or mid-segment, without ``transactional``) re-runs to convergence,
    a later ``route_stream`` tail of the same directory recognizes the
    replayed files as applied, and a reused segment name with different
    content is refused (``SegmentReuseError``), same as ``replay_feed``."""
    out: dict[str, dict[str, MergeStats]] = {}
    for seg in sorted(os.listdir(feed_dir)):
        d = os.path.join(feed_dir, seg)
        if not os.path.isdir(d):
            continue
        files = sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )
        if not files:  # mid-write / _SUCCESS-only dir: nothing to apply
            continue
        bid = batch_fingerprint(files)
        out[seg] = route_batch(
            spark, catalog, spark.read.parquet(d), bid, table_col=table_col,
            transactional=transactional, on_unknown=on_unknown, mode=mode,
            segments={seg: bid}, segments_cover_batch=True,
            input_files=[_segment_relative(f) for f in files],
            **apply_kwargs,
        )
    return out


def route_stream(
    spark: SparkSession,
    catalog,
    feed_dir: str,
    checkpoint_dir: str,
    idents: list[str],
    table_col: str = ROUTE_COL,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    transactional: bool = False,
    on_unknown: str = "fail",
    mode: str = "mor",
    **apply_kwargs,
):
    """Structured-Streaming tail of a MULTI-TABLE change feed: the real
    binlog deployment shape — one checkpointed stream, events interleaved
    across every table of the source database, each trigger routed through
    ``route_batch``.

    ``idents`` is the explicit include-list of catalog tables this
    consumer owns (the Debezium table-include-list), ENFORCED: a route
    value naming any other table — even one that exists in the catalog —
    is handled by the ``on_unknown`` policy instead of being written
    behind its real owner's back; a typo'd value fails fast under
    ``on_unknown='fail'``.

    Exactly-once composition under redelivery is the trigger core shared
    with ``run_stream`` (``cdc/stream._resolve_trigger``): the batch id is
    the fingerprint of the trigger's new input files (NOT Spark's epoch
    id), every owned table — including ones with zero rows in the
    trigger, via ``ensure`` — records the same ``input_files``, and a
    file counts as applied only when EVERY owned table has it. A crash
    between table A's commit and table B's (non-transactional mode)
    re-runs the trigger, A skips idempotently, B applies; with
    ``transactional=True`` the per-trigger pin swap makes even the
    intermediate state invisible to catalog readers.

    One progress row per trigger goes to ``<checkpoint_dir>/_progress``
    (``stream.progress_df``), counters summed over the owned tables.
    Returns the StreamingQuery (drained when ``available_now``).
    """
    tables = [catalog.load_table(i) for i in idents]
    src = _feed_source(spark, feed_dir, max_files_per_trigger)
    if table_col not in src.columns:
        raise ValueError(f"feed lacks the route column {table_col!r}")
    prog_dir = os.path.join(checkpoint_dir, "_progress")
    trigger_no = [_progress_rows_recorded(prog_dir)]

    def _apply(df: DataFrame, epoch_id: int, files: list[str]) -> None:
        t0 = time.time()
        trig = _resolve_trigger(df, files, feed_dir, tables)
        s = None
        if trig is not None:
            bid, rel_new, complete, batch_df = trig
            s = _trigger_stats(bid, route_batch(
                spark, catalog, batch_df, bid, table_col=table_col,
                transactional=transactional, on_unknown=on_unknown, mode=mode,
                include=list(idents), ensure=list(idents),
                segments=complete or None, input_files=rel_new,
                # zero rows for new files: fail loudly pre-commit, unless
                # the files are genuinely empty parquet (footer probe) —
                # then every owned table ledgers them counters-only
                expect_rows=lambda: feed_files_nonempty(feed_dir, rel_new),
                **apply_kwargs,
            ))
        _record_progress(
            spark, prog_dir, trigger_no[0], int(epoch_id), s,
            time.time() - t0, t0,
        )
        trigger_no[0] += 1

    return _drain(src, checkpoint_dir, available_now, _apply)


def _trigger_stats(bid: str, out: dict[str, MergeStats]) -> MergeStats:
    """One progress row's counters: the owned tables' MergeStats summed
    (``'!unknown'`` left out, so ``events_in == applied + failed + late
    + dup`` holds); skipped only when every slice skipped."""
    owned = [st for k, st in out.items() if k != "!unknown"]
    s = MergeStats(bid, skipped_idempotent=all(st.skipped_idempotent for st in owned))
    for f in ("events_in", "inserted", "updated", "deleted",
              "stale_skipped", "failed", "late_dropped", "dup_dropped"):
        setattr(s, f, sum(getattr(st, f) for st in owned))
    return s
