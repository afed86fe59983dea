"""Structured Streaming driver: tail the feed directory, apply micro-batches
through the same ``apply_batch`` used in batch mode.

Reference analog: the Gardener poll → streamToPending → throttled RunAll
loop (/root/reference/active/poller.go:147-216, active/active.go:163-203,
active/throttle.go:9-81). Spark replaces every piece:

  * job discovery + offsets  → file-source checkpointed offsets
  * streamToPending channel  → micro-batch planning
  * semaphore max_active     → maxFilesPerTrigger + executor cores
  * Gardener heartbeat/state → checkpoint + our commit manifest
  * graceful SIGTERM + resume (parser.yml:28-30) → query.stop() +
    restart from checkpointLocation

Exactly-once: Spark's file-source checkpoint is at-least-once across
failures (a batch can be re-delivered after a crash between sink write and
offset commit). We therefore fingerprint each micro-batch by its INPUT FILES
(``input_file_name()``) and let the commit manifest no-op replays — the same
composition the reference uses (at-least-once parse + key-dedup + atomic
output visibility, /root/reference/storage/rowwriter.go:83-171).

Late/out-of-order data: correctness is carried by ts-based LWW in the MERGE,
not by a watermark — the reference ASSUMES in-order timestamps and panics
otherwise (/root/reference/parser/ndt.go:226-238); we must not (north rule).
No stateful streaming operator exists in this pipeline, so no watermark is
required for state cleanup.

Schema evolution mid-stream: the file source pins its schema at query start,
so when the feed gains columns the query is restarted with the merged schema
(detect_feed_schema) — checkpointed offsets make the restart seamless. This
mirrors the reference's out-of-band update-schema deploy step
(/root/reference/cmd/update-schema/update.go:112-161).
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from etl_spark.cdc.apply import (
    _segment_relative,
    apply_batch,
    batch_fingerprint,
    check_segment_immutability,
    feed_files_nonempty,
    new_files_predicate,
    segment_listing,
)
from etl_spark.lake.table import LakeTable

# Default per-bucket data-file bound for the streaming loop. A MOR
# stream appends one delta file per touched bucket per trigger, so an
# UNBOUNDED stream grows read amplification linearly with uptime until
# an operator intervenes — the wrong default for a service. 16 keeps
# point-read fan-in small while amortizing the rewrite to ~1/16 extra
# write volume per trigger (compact_small_files rewrites only offending
# buckets). Pass None to opt OUT (operator-scheduled maintenance).
DEFAULT_COMPACT_FILES = 16


def detect_feed_schema(spark: SparkSession, feed_dir: str) -> T.StructType:
    """Union-of-eras feed schema from parquet footers (mergeSchema reads
    footers only, not data)."""
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{feed_dir}/*")
        .schema
    )


def _neardup_gate(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    threshold: float,
    bid: str,
) -> DataFrame:
    """Drop upsert rows whose text near-duplicates already-admitted
    content (or a lower-keyed row of the same batch); admit the rest.

    Document identity is the KEY hash (conv_id, turn_idx): a turn
    re-editing its OWN text (self-similar versions — normal CDC churn)
    is never a duplicate, only cross-key content collisions are. The
    batch's latest version per key (in-batch LWW) is what gets probed
    and admitted."""
    from etl_spark.cdc.dedup import lww_dedup
    from etl_spark.cdc.neardup import NearDupIndex

    # 16-hash gate grade (detection ≥90% at j=0.5, ≥99.5% at j=0.7 — see
    # NearDupIndex docstring) on the xxh64 family (codegen'd, ~10× less
    # per-shingle CPU than the oracle-matched md5 family — the gate has
    # no SQL oracle; its correctness is final-state equality). An
    # existing index's stored width/family win.
    idx = NearDupIndex(index_path, n_minhash=16, hash_fn="xxh64")
    key_id = F.xxhash64("conv_id", "turn_idx")
    upserts = batch.filter(F.col("op").isin("I", "U") & F.col("text").isNotNull())
    # the gate consumes docs in several actions (th grouping, segment
    # write, probe); without the checkpoint each would re-read the feed
    # and re-run the LWW shuffle
    docs = (
        lww_dedup(upserts)
        .select(key_id.alias("doc_id"), "text")
        .localCheckpoint(eager=True)
    )
    dups = idx.gate_and_admit(spark, docs, bid, threshold).filter(
        # a key matching ITS OWN earlier version in the index is an edit
        # (normal CDC churn), never a duplicate
        ~((F.col("doc_id") == F.col("dup_of")) & (F.col("dup_src") == "index"))
    )
    # priority dropping: corpus duplicates go first; then in-batch pairs
    # apply only among corpus-SURVIVORS (keep the smaller key) — a row
    # whose only duplicate witness was itself corpus-dropped survives
    # (e.g. an edit of key A near-duped by arriving copycat C: C drops
    # against the corpus, A keeps its edit)
    corpus_drops = dups.filter(F.col("dup_src") == "index").select("doc_id")
    in_batch = (
        dups.filter(F.col("dup_src") == "batch")
        .join(corpus_drops.withColumnRenamed("doc_id", "dup_of"), "dup_of", "left_anti")
        .join(corpus_drops, "doc_id", "left_anti")
        .select(F.col("dup_of").alias("doc_id"))
    )
    # the DROP SET is what every downstream action joins against — it is
    # tiny (dup keys only), so materialize IT once; checkpointing the
    # pair stream instead leaves the priority-filter joins above to
    # re-execute for every action apply_batch runs on the gated batch
    drops = (
        corpus_drops.unionByName(in_batch)
        .distinct()
        .localCheckpoint(eager=True)
    )
    # deletes/patches/null-text rows always pass (not new content); all
    # events of a dropped KEY are dropped together
    keep_if = ~(F.col("op").isin("I", "U") & F.col("text").isNotNull())
    return (
        batch.withColumn("__ndid", key_id)
        .withColumn("__ndkeep", keep_if)
        .join(
            drops.withColumnRenamed("doc_id", "__nddrop"),
            F.col("__ndid") == F.col("__nddrop"),
            "left",
        )
        .filter(F.col("__ndkeep") | F.col("__nddrop").isNull())
        .drop("__ndid", "__ndkeep", "__nddrop")
    )


PROGRESS_SCHEMA = T.StructType(
    [
        T.StructField("trigger_no", T.IntegerType()),
        T.StructField("epoch_id", T.LongType()),
        T.StructField("batch_id", T.StringType()),
        T.StructField("started_at", T.TimestampType()),
        # run_stream: resolve, gate, apply and table compaction (index,
        # MV, replica maintenance untimed); route_stream: resolve + route
        T.StructField("wall_sec", T.DoubleType()),
        T.StructField("events_in", T.LongType()),
        T.StructField("applied", T.LongType()),
        T.StructField("failed", T.LongType()),
        T.StructField("late_dropped", T.LongType()),
        T.StructField("dup_dropped", T.LongType()),
        T.StructField("events_per_sec", T.DoubleType()),
        T.StructField("skipped_idempotent", T.BooleanType()),
        T.StructField("no_new_files", T.BooleanType()),
        # ConvSummaryMV delta-refresh telemetry (NULL when no MV is
        # attached, the cadence skipped this trigger, or the refresh
        # bootstrapped/no-opped/cut over): conversations updated
        # arithmetically vs re-aggregated — a workload that
        # systematically trips a fallback class is visible per trigger
        T.StructField("mv_arith", T.LongType()),
        T.StructField("mv_reagg", T.LongType()),
    ]
)


def _progress_rows_recorded(prog_dir: str) -> int:
    """Rows already in a progress file — a resumed stream continues the
    trigger numbering instead of restarting at 0 (the file is append-only
    across restarts of the same checkpoint)."""
    try:
        with open(os.path.join(prog_dir, "progress.jsonl")) as f:
            return sum(1 for _ in f)
    except OSError:
        return 0


def _record_progress(
    spark: SparkSession, prog_dir: str, trigger_no: int, epoch_id: int,
    stats, wall_sec: float, t0: float, mv_stats: dict | None = None,
) -> None:
    """Append ONE row per trigger to the progress table — the engine's
    StreamingQueryProgress analog with the merge counters joined in (the
    reference's Prometheus per-task taxonomy,
    /root/reference/metrics/metrics.go:489-555). Counters come from the
    MergeStats the trigger's apply produced (already materialized —
    recording is driver-side only, no extra job), so the invariant
    ``events_in == applied + failed + late + dup`` holds row by row. A
    no-new-files trigger records a row too: liveness is a signal.

    Storage is a driver-local JSONL append (one os.write per trigger, no
    Spark job — a per-trigger parquet append measured ~2x the whole
    trigger wall at high trigger rates); ``progress_df`` reads it back
    with the explicit schema."""
    import datetime as _dt
    import json as _json

    if stats is None:
        row = dict(trigger_no=trigger_no, epoch_id=epoch_id, batch_id=None,
                   events_in=0, applied=0, failed=0, late_dropped=0,
                   dup_dropped=0, events_per_sec=0.0,
                   skipped_idempotent=False, no_new_files=True)
    else:
        row = dict(
            trigger_no=trigger_no, epoch_id=epoch_id, batch_id=stats.batch_id,
            events_in=int(stats.events_in), applied=int(stats.applied()),
            failed=int(stats.failed), late_dropped=int(stats.late_dropped),
            dup_dropped=int(stats.dup_dropped),
            events_per_sec=(
                float(stats.events_in / wall_sec) if wall_sec > 0 else 0.0
            ),
            skipped_idempotent=bool(stats.skipped_idempotent),
            no_new_files=False,
        )
    row["started_at"] = _dt.datetime.fromtimestamp(t0).isoformat(
        sep=" ", timespec="microseconds"
    )
    row["wall_sec"] = float(wall_sec)
    if mv_stats is not None:
        row["mv_arith"] = int(mv_stats["n_arith"])
        row["mv_reagg"] = int(mv_stats["n_reagg"])
    os.makedirs(prog_dir, exist_ok=True)
    with open(os.path.join(prog_dir, "progress.jsonl"), "a") as f:
        f.write(_json.dumps(row) + "\n")


def progress_df(
    spark: SparkSession, path: str, dedup: bool = True
) -> DataFrame:
    """Read a stream's per-trigger progress table (one row per trigger;
    written next to the checkpoint by default: <checkpoint>/_progress).

    ``batch_id`` — NOT trigger_no — is the aggregation identity: the
    JSONL append runs AFTER the table commit, so a crash in between
    loses the row and the redelivered trigger appends a second row for
    the same batch (skipped_idempotent, zero counters). ``dedup=True``
    (default) keeps ONE row per batch_id — the FIRST recorded, which
    carries the real counters whenever both survive (the redelivery row
    is the all-zero skip) — so summing events_in/applied over the frame
    never double-counts. no-new-files liveness rows (batch_id NULL) are
    all kept. Pass dedup=False for the raw append log."""
    raw = spark.read.schema(PROGRESS_SCHEMA).json(f"{path}/progress.jsonl")
    if not dedup:
        return raw
    from pyspark.sql import Window as W

    w = W.partitionBy("batch_id").orderBy("trigger_no")
    return (
        raw.withColumn(
            "__rn",
            F.when(F.col("batch_id").isNull(), F.lit(1)).otherwise(
                F.row_number().over(w)
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def fold_progress(
    spark: SparkSession, prog_dir: str, out_path: str | None = None
) -> int:
    """Fold the driver-local JSONL progress log into a snapshot-versioned
    parquet table (a ``lake/segstore.py`` store: parquet dir per fold +
    atomic pointer swap, the previous fold swept one commit later — the
    MV storage pattern), so fleet progress is queryable with the same
    stable-snapshot semantics as every other lake structure while the
    hot path keeps its one-os.write-per-trigger cost (a per-trigger
    parquet append measured ~2× the whole trigger wall — the round-4
    lesson). Rows are batch_id-deduped on the way in (``progress_df``).
    Idempotent: re-folding the same log replaces the snapshot. Returns
    rows folded (parquet footers of the written snapshot — a df.count()
    would re-read the JSONL and could disagree with the snapshot if rows
    were appended in between). Reader: ``folded_progress_df``."""
    out = out_path or f"{prog_dir.rstrip('/')}_table"
    return _fold_store(out).replace(progress_df(spark, prog_dir), "fold")


def _fold_store(out_path: str):
    from etl_spark.lake.segstore import SegmentStore

    return SegmentStore(out_path, r"fold-[0-9a-f]+")


def folded_progress_df(spark: SparkSession, out_path: str) -> DataFrame:
    """Read the folded progress table's current snapshot."""
    m = _fold_store(out_path).meta()
    if m is None:
        raise FileNotFoundError(f"no folded progress table at {out_path}")
    return spark.read.parquet(os.path.join(out_path, m["data"]))


# --- streaming trigger core: one copy, shared by run_stream and route_stream --
#
# Idempotence is per INPUT FILE: maxFilesPerTrigger can split one segment's
# files across triggers, so marking a whole segment done on its first
# partial delivery would silently drop the rest (the round-1 bug, masked by
# a feed writer that happened to emit fewer files per segment than the
# trigger size). After checkpoint loss, Spark re-delivers old files grouped
# differently — the per-file ledger no-ops them regardless of grouping. A
# segment moves to the compact per-segment map (and its file entries are
# pruned) only once EVERY file in its directory has been applied. Segments
# are immutable by contract (like the reference's archives). A single-table
# stream is the one-ledger case of the multi-table one.


def _feed_source(
    spark: SparkSession, feed_dir: str, max_files_per_trigger: int | None
) -> DataFrame:
    """Schema-pinned streaming parquet source over the feed's segment
    dirs, with each row's ``__file`` (``input_file_name()``)."""
    reader = spark.readStream.schema(detect_feed_schema(spark, feed_dir))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(f"{feed_dir}/*").withColumn("__file", F.input_file_name())


def _trigger_bookkeeping(
    feed_dir: str,
    files: list[str],
    ledgers: list[tuple[LakeTable, dict[str, str], set[str]]],
) -> tuple[str, list[str], list[str], dict[str, str]] | None:
    """Spark-free ledger arithmetic of one trigger: ``files`` (the
    trigger's input files) against one ``(table, committed_segments(),
    committed_inputs())`` snapshot per sink table → ``(bid, rel_new,
    rel_applied, complete_segs)``, or None when every file is applied.

    A file is new unless EVERY ledger holds it (its segment completed
    there, or the file itself is ledgered): a crash between table A's
    commit and table B's re-runs the trigger for B. A segment completes
    only when its whole on-disk listing is applied in every ledger — a
    ledger that already completed it counts as holding all its files.
    The table of each snapshot is consulted only by the immutability
    check's legacy probe, on a fingerprint mismatch."""

    def seg(rel: str) -> str:
        return rel.split("/")[0]

    rels = {f: _segment_relative(f) for f in files}
    # refuse a file appended to a COMPLETED segment before the
    # name-membership skip below can silently drop it (listing vs
    # completion fingerprint, with the legacy batch-id fallback)
    check_segment_immutability(
        feed_dir, [seg(r) for r in rels.values()],
        [(t, segs) for t, segs, _inps in ledgers],
    )
    new_files = sorted(
        f for f, r in rels.items()
        if not all(seg(r) in segs or r in inps for _t, segs, inps in ledgers)
    )
    if not new_files:
        return None
    rel_new = [rels[f] for f in new_files]
    # the ledger stores URI-style names (input_file_name and the
    # checkpoint log percent-encode); the directory listing is raw —
    # decode the ledger side for the completion comparison or a file with
    # an encodable character in its name would keep its segment
    # "incomplete" forever
    applied_decoded = [
        {unquote(x) for x in inps | set(rel_new)} for _t, _segs, inps in ledgers
    ]
    # a COMPLETED segment is ledgered under its content fingerprint (all
    # its files), so a later batch replay of the same feed proves
    # same-name-same-content and skips — while a reused segment name with
    # different content is refused instead of silently dropped
    complete_segs: dict[str, str] = {}
    for sname in sorted({seg(r) for r in rel_new}):
        allf = segment_listing(feed_dir, sname)
        if allf and all(
            sname in segs or allf <= dec
            for (_t, segs, _inps), dec in zip(ledgers, applied_decoded)
        ):
            complete_segs[sname] = batch_fingerprint(sorted(allf))
    new_set = set(new_files)
    rel_applied = [r for f, r in rels.items() if f not in new_set]
    return batch_fingerprint(new_files), rel_new, rel_applied, complete_segs


class CheckpointLogError(RuntimeError):
    """A micro-batch's input files cannot be read from the query's own
    checkpoint (missing or unparseable ``offsets``/``sources`` entry)."""


def _log_lines(path: str) -> list[str]:
    """A checkpoint log file's lines after its ``v<N>`` header."""
    try:
        with open(path, encoding="utf-8") as f:
            lines = f.read().splitlines()
    except OSError as e:
        raise CheckpointLogError(f"cannot read {path}: {e}") from e
    if not lines or not lines[0].startswith("v"):
        raise CheckpointLogError(f"{path}: no version header")
    return lines[1:]


def _source_log_offset(ckpt: str, epoch: int) -> int:
    """The file source's log offset in ``offsets/<epoch>`` (-1: none yet)."""
    path = os.path.join(ckpt, "offsets", str(epoch))
    lines = _log_lines(path)
    try:
        # the batch metadata line, then one offset per source ("-": none)
        off = lines[1].strip()
        return -1 if off == "-" else int(json.loads(off)["logOffset"])
    except (IndexError, ValueError, KeyError, TypeError) as e:
        raise CheckpointLogError(f"{path}: unparseable file-source offset") from e


def _source_log_batch(src_dir: str, k: int) -> list[str]:
    """Files of file-source log batch ``k``: its own entry ``<k>``, or,
    once that is compacted away, the covering ``<c>.compact`` (the first
    ``c >= k``; it holds every entry up to ``c``)."""
    path = os.path.join(src_dir, str(k))
    if not os.path.exists(path):
        try:
            names = os.listdir(src_dir)
        except OSError as e:
            raise CheckpointLogError(f"cannot list {src_dir}: {e}") from e
        cover = min(
            (c for c in (n[: -len(".compact")] for n in names if n.endswith(".compact"))
             if c.isdigit() and int(c) >= k),
            key=int, default=None,
        )
        if cover is None:
            raise CheckpointLogError(f"{src_dir}: no log entry for batch {k}")
        path = os.path.join(src_dir, f"{cover}.compact")
    try:
        entries = [json.loads(ln) for ln in _log_lines(path) if ln.strip()]
        return [e["path"] for e in entries if int(e["batchId"]) == k]
    except (ValueError, KeyError, TypeError) as e:
        raise CheckpointLogError(f"{path}: unparseable file-source entry") from e


def _trigger_files(checkpoint_dir: str, epoch_id: int) -> list[str]:
    """Input files of micro-batch ``epoch_id``, spelled exactly as
    ``input_file_name()`` spells them, read from the query's own
    checkpoint without a Spark job: ``offsets/<epoch-1>`` and
    ``offsets/<epoch>`` bound the file-source log range, and
    ``sources/0`` lists each log batch's files. ``df.inputFiles()`` is
    empty for a ``foreachBatch`` micro-batch, and scanning the batch for
    its ``__file`` values costs 2 jobs per trigger. Raises
    ``CheckpointLogError`` when the log is missing or unreadable: an
    empty list would commit the offset and lose the files."""
    ckpt = os.path.abspath(checkpoint_dir.removeprefix("file://").removeprefix("file:"))
    end = _source_log_offset(ckpt, epoch_id)
    start = _source_log_offset(ckpt, epoch_id - 1) if epoch_id > 0 else -1
    src_dir = os.path.join(ckpt, "sources", "0")
    return [p for k in range(start + 1, end + 1) for p in _source_log_batch(src_dir, k)]


def _resolve_trigger(
    df: DataFrame, files: list[str], feed_dir: str, tables: list[LakeTable]
) -> tuple[str, list[str], dict[str, str], DataFrame] | None:
    """Resolve one micro-batch of ``_feed_source`` (its input ``files``,
    from ``_trigger_files``) against the sink tables' ledgers → ``(bid,
    rel_new, complete_segs, batch_df)``, or None when nothing is new.
    ``bid`` is the fingerprint of the new input files (NOT Spark's epoch
    id, which changes on redelivery); ``batch_df`` holds exactly the new
    files' rows, ``__file`` dropped. Launches no Spark job."""
    if not files:
        return None
    trig = _trigger_bookkeeping(
        feed_dir, files,
        [(t, t.committed_segments(), t.committed_inputs()) for t in tables],
    )
    if trig is None:
        return None
    bid, rel_new, rel_applied, complete_segs = trig
    # symmetric normalized identity matching (see new_files_predicate for
    # the encoding-drift contract); already-applied sibling files are
    # excluded so a form-decode collision cannot re-admit their rows
    batch_df = df.filter(
        new_files_predicate(rel_new, feed_dir=feed_dir, rel_applied=rel_applied)
    ).drop("__file")
    return bid, rel_new, complete_segs, batch_df


def _drain(src: DataFrame, checkpoint_dir: str, available_now: bool, on_batch):
    """Run ``on_batch(df, epoch_id, files)`` per micro-batch of ``src``
    under the checkpoint, ``files`` being the batch's input files
    (``_trigger_files``): drained to completion (availableNow) or left
    running. Returns the StreamingQuery either way."""

    def _batch(df: DataFrame, epoch_id: int) -> None:
        on_batch(df, epoch_id, _trigger_files(checkpoint_dir, epoch_id))

    writer = src.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if not available_now:
        return writer.start()
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def run_stream(
    spark: SparkSession,
    table: LakeTable,
    feed_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    fail_threshold: float = 0.10,
    late_watermark_sec: float | None = None,
    mode: str = "cow",
    mv_path: str | None = None,
    mv_refresh_every: int = 1,
    auto_compact_files: int | None = DEFAULT_COMPACT_FILES,
    replica_path: str | None = None,
    allow_patches: bool = False,
    quarantine_dir: str | None = None,
    neardup_index_path: str | None = None,
    neardup_threshold: float = 0.5,
    neardup_compact_every: int | None = 64,
    progress_path: str | None = None,
    progress_fold_every: int | None = None,
):
    """Start (and by default drain) the streaming apply loop. Returns the
    StreamingQuery when available_now=False (caller stops it).

    ``mv_path``: keep the per-conversation summary MV (lake/mv.py) in sync
    inside the SAME foreachBatch — after each applied micro-batch the MV
    does a changelog-scoped incremental refresh, so derived-table freshness
    tracks the stream with O(batch keys) extra work per trigger. The MV's
    own table_version pointer makes the refresh idempotent across replays,
    and it runs on a trigger cadence (``mv_refresh_every``, default every
    trigger) regardless of whether new files were applied, so a crash
    between the table commit and the MV refresh is healed by a later
    trigger even though the merge itself no-ops. A cadence > 1 amortizes
    maintenance — the changelog diff SPANS the skipped triggers, so the
    work is paid once instead of per trigger — at the price of bounded
    freshness lag, never correctness; an availableNow drain always ends
    with a catch-up refresh so the drained MV is current.

    ``auto_compact_files``: per-trigger maintenance bound — see
    ``replay_feed``; under an endless MOR stream this caps read
    amplification at a constant number of files per bucket.

    ``neardup_index_path``: content-level admission gate (the Bloom
    seen-set lifted to near-duplicate TEXT, cdc/neardup.py). Per
    micro-batch, upsert rows whose text near-dups an already-admitted
    document (or an earlier row of the same batch) are DROPPED before
    the merge; the retained batch is admitted into the persisted index.
    Crash-idempotent: the index segment is named by the batch id
    (redelivery skips the write) and the probe excludes the batch's own
    segment, so a redelivered trigger computes the identical drop set.
    Deletes/patches always pass (they are not new content).

    ``neardup_compact_every``: index-maintenance cadence (triggers) —
    the gate appends one index segment per trigger, so an unbounded
    stream needs periodic segment compaction or probe plans read
    O(triggers) small files (the same reasoning as
    ``auto_compact_files`` for the table's delta files). Every N
    triggers the index's committed segments (except the newest — the
    gate's crash-redelivery exclusion contract, see
    ``NearDupIndex.compact``) merge into one consolidated segment; the
    deterministic segment-name ledger survives, so redelivery
    idempotence is unaffected. None opts out (operator-scheduled
    maintenance).

    ``replica_path``: follow the table with a changelog replica
    (lake/replicate.py) inside the same foreachBatch — each trigger syncs
    the replica by exactly that trigger's diff (created with the table's
    schema on first sync). Same crash-healing shape as the MV: the sync
    runs on every trigger and its ledger makes it idempotent, so a crash
    between the table commit and the replica sync is healed by the
    re-delivered trigger.

    ``progress_path``: per-trigger progress telemetry table (defaults to
    ``<checkpoint_dir>/_progress``) — one row per trigger with wall time
    (resolve, gate, apply and table compaction; later maintenance untimed),
    merge counters (invariant-consistent), throughput, and skip/no-op
    flags; read it back with ``progress_df``. Pass an explicit path to
    relocate, or rely on the default next to the checkpoint.

    ``progress_fold_every``: opt-in cadence (triggers) for folding the
    driver-local JSONL into a snapshot-versioned parquet table next to
    it (``fold_progress`` → ``<progress>_table``) — periodic, never
    per-trigger (the round-4 telemetry lesson: a per-trigger parquet
    append halved drain throughput). An availableNow drain ends with a
    final fold so the table is current. None (default) opts out at zero
    drain cost."""
    src = _feed_source(spark, feed_dir, max_files_per_trigger)

    prog_dir = progress_path
    if prog_dir is None and checkpoint_dir is not None:
        prog_dir = os.path.join(checkpoint_dir, "_progress")
    # a restarted stream (same checkpoint) APPENDS to the same progress
    # file — continue its numbering so trigger_no stays unique per file
    trigger_no = [_progress_rows_recorded(prog_dir) if prog_dir else 0]

    def _apply(df: DataFrame, epoch_id: int, files: list[str]) -> None:
        import time as _time

        t0 = _time.time()
        s = _apply_new_files(df, files)
        if s is not None and auto_compact_files is not None:
            table.compact_small_files(spark, auto_compact_files)
        # resolve, gate, apply and table compaction; the index, MV,
        # progress and replica maintenance below is untimed
        wall = _time.time() - t0
        this_trigger = trigger_no[0]
        trigger_no[0] += 1
        # near-dup index maintenance on its own cadence: bound the probe
        # plan's file fan-in under unbounded uptime (one new segment per
        # trigger otherwise accumulates forever). Runs BETWEEN triggers —
        # no in-flight probe plans can be reading the absorbed dirs.
        if (
            neardup_index_path is not None
            and neardup_compact_every is not None
            and trigger_no[0] % max(1, neardup_compact_every) == 0
        ):
            from etl_spark.cdc.neardup import NearDupIndex

            NearDupIndex(neardup_index_path).compact(spark)
        # MV catch-up runs on a trigger CADENCE (default: every trigger),
        # outside the new-files early returns: after a crash between the
        # table commit and the MV refresh, the re-delivered batch no-ops
        # the merge (per-file ledger) but the MV must still be brought up
        # to the table's current snapshot. refresh() itself no-ops when
        # already current, and diffs SPAN the skipped triggers, so a
        # cadence > 1 trades freshness lag for amortized maintenance —
        # never correctness. A final catch-up runs after an availableNow
        # drain (below) so the drained MV is always current.
        mv_stats = None
        if mv_path is not None and trigger_no[0] % max(1, mv_refresh_every) == 0:
            from etl_spark.lake.mv import ConvSummaryMV

            mv = ConvSummaryMV(mv_path)
            mv.refresh(spark, table)
            mv_stats = mv.last_refresh_stats
        # recorded AFTER maintenance so the row carries the MV's
        # arith/re-agg split; wall_sec still stops before the index and
        # MV maintenance, and batch_id-keyed dedup (progress_df) absorbs
        # the slightly wider crash window between commit and append
        if prog_dir is not None:
            _record_progress(
                spark, prog_dir, this_trigger, int(epoch_id), s,
                wall, t0, mv_stats=mv_stats,
            )
            if (
                progress_fold_every is not None
                and trigger_no[0] % max(1, progress_fold_every) == 0
            ):
                fold_progress(spark, prog_dir)
        if replica_path is not None:
            from etl_spark.lake.replicate import sync_replica

            rt = LakeTable(replica_path)
            if not rt.exists():
                rt = LakeTable.create(
                    replica_path, table.user_schema(), n_buckets=table.n_buckets
                )
            sync_replica(spark, table, rt, mode=mode)

    def _apply_new_files(df: DataFrame, files: list[str]):
        trig = _resolve_trigger(df, files, feed_dir, [table])
        if trig is None:
            return None
        bid, rel_new, complete_segs, batch_df = trig
        if neardup_index_path is not None:
            batch_df = _neardup_gate(
                spark, batch_df, neardup_index_path, neardup_threshold, bid
            )
        return apply_batch(
            spark,
            table,
            batch_df,
            bid,
            source_files=sorted({r.split("/")[0] for r in rel_new}),
            fail_threshold=fail_threshold,
            segments=complete_segs,
            input_files=rel_new,
            late_watermark_sec=late_watermark_sec,
            mode=mode,
            allow_patches=allow_patches,
            quarantine_dir=quarantine_dir,
            # a zero-row scan for new files usually means the row↔file
            # matching above silently missed — the merge gate raises
            # PRE-COMMIT instead of ledgering unapplied files (free: the
            # check rides the counters the merge materializes anyway).
            # The CALLABLE form is evaluated only on that zero-row path:
            # it probes the matched files' parquet footers, so a
            # producer's legitimately-empty file (an empty partition)
            # commits as a counters-only version instead of crashing the
            # stream into a permanent redelivery loop. NOT asserted when
            # the near-dup gate is on: the gate can legitimately empty a
            # batch (a trigger that is 100% cross-key duplicates of
            # admitted content — the exact flood it exists to drop).
            expect_rows=(
                (lambda: feed_files_nonempty(feed_dir, rel_new))
                if neardup_index_path is None
                else False
            ),
        )

    q = _drain(src, checkpoint_dir, available_now, _apply)
    if available_now:
        if mv_path is not None:
            from etl_spark.lake.mv import ConvSummaryMV

            ConvSummaryMV(mv_path).refresh(spark, table)
        if progress_fold_every is not None and prog_dir is not None:
            fold_progress(spark, prog_dir)  # drained table is current
    return q
