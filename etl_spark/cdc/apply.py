"""apply_batch — the single apply path shared by batch replay and the
Structured Streaming driver (single-code-path requirement mirroring the
reference's dev HTTP entry reusing the production task path,
/root/reference/cmd/etl_worker/etl_worker.go:118-158 → worker.ProcessGKETask).

Pipeline per micro-batch:
  1. idempotence gate   — batch_id already in the commit manifest ⇒ no-op
                          (the reference's analog: atomic visibility at
                          Close + Gardener state, storage/rowwriter.go:83-171)
  2. validation         — malformed events (bad op, null keys, oversize
                          text) are counted as failed and dropped; if
                          failed/events_in > fail_threshold the WHOLE batch
                          errors before any write (failfast + 10% error
                          budget: /root/reference/task/task.go:163-173,
                          /root/reference/etl/etl.go:116-117)
  3. in-batch LWW dedup — skew-proof partial-agg max_by (cdc/dedup.py)
  4. MERGE              — bucket-pruned copy-on-write LWW upsert with
                          tombstones (lake/merge.py), committed atomically
                          together with metrics + lineage.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from etl_spark.lake.merge import BatchFailedError, MergeStats, merge_into
from etl_spark.lake.table import LakeTable

__all__ = [
    "AuditFailedError",
    "BatchFailedError",
    "SegmentReuseError",
    "apply_batch",
    "batch_fingerprint",
    "check_segment_immutability",
    "feed_files_nonempty",
    "replay_feed",
    "requeue_quarantine",
    "validate_events",
    "wap_replay",
]


class AuditFailedError(RuntimeError):
    """The write-audit-publish audit rejected the staged snapshots; the
    branch was dropped and the published table is unchanged."""


class SegmentReuseError(RuntimeError):
    """A feed presented a segment name the table already committed but
    with DIFFERENT content. Segments are immutable by contract; skipping
    by name would silently drop the new data, so the replay refuses."""


class _ResilientCounters:
    """Observation facade for the merge's fused validation counters.

    If EVERY row of a batch is filtered out before the dedup exchange
    (all-invalid or all-late input), AQE materializes that exchange empty
    and its empty-relation propagation can replace the downstream subtree
    — dropping the CollectMetrics node from the final plan, so the
    Observation is never filled and ``.get`` raises from the JVM. The
    counters still matter exactly then (they decide failfast vs
    commit-empty), so fall back to ONE direct aggregation job over the
    (file-backed) batch with the same aggregate expressions. The fallback
    never runs on the happy path."""

    def __init__(self, obs: Observation, batch: DataFrame, agg_cols: list):
        self._obs, self._batch, self._aggs = obs, batch, agg_cols

    @property
    def get(self) -> dict:
        try:
            return self._obs.get
        except Exception:
            return self._batch.agg(*self._aggs).first().asDict()

# BigQuery's 100MB row limit drives the reference's 90MB guard
# (/root/reference/parser/scamper1.go:22-25); we keep an explicit guard too.
MAX_TEXT_BYTES = 10 * 1024 * 1024
VALID_OPS = ("I", "U", "D")


def _segment_relative(path: str) -> str:
    """Normalize a file path/URI to its segment-relative identity
    (``<segment_dir>/<file>``) so a replay of the same segment from a moved
    or re-mounted feed root is still recognized as the same batch."""
    p = path.split("://", 1)[-1].rstrip("/")
    parts = p.split("/")
    return "/".join(parts[-2:])


def new_files_predicate(
    rel_new: list[str],
    feed_dir: str | None = None,
    rel_applied: list[str] | None = None,
) -> F.Column:
    """Predicate over the ``__file`` column (``input_file_name()``)
    matching rows that came from the given segment-relative new files.

    Matching happens on BOTH the raw segment-relative tail and its
    url-decoded form, against a want-set that includes every file's raw,
    percent-decoded (``unquote``) AND form-decoded (``unquote_plus``)
    identity — because the two sides can disagree on URI encoding
    (a file list vs ``input_file_name()``), and Spark's only decode
    builtin (``url_decode``) is FORM decoding, which turns a literal
    ``+`` in a file name into a space while Python's ``unquote`` keeps
    it. A one-sided normalization silently drops such a file's rows
    while the ledger marks it applied (the round-4 review's '+' case);
    the symmetric variant set matches whichever encoding each side
    chose. Called once, from the streaming trigger core that run_stream
    and route_stream share (``cdc/stream._resolve_trigger``).

    The variant union can OVER-match when form decoding collides two
    distinct sibling files ('a+b.parquet' form-decodes to the same
    identity as 'a b.parquet'). Two guards narrow it:

      * ``feed_dir``: each side is resolved EXACT-MATCH-FIRST against
        the on-disk listing (the ground truth for which decode the
        encoder chose): the raw name wins if it exists, decoded
        variants are consulted only when it does not, and the variant
        union is kept wholesale only when nothing resolves (remote
        URIs).
      * ``rel_applied``: resolved identities of the trigger's OTHER
        (already-applied) files are excluded, so an applied sibling
        whose form-decoded identity lands in the want-set cannot
        re-enter the batch (its rows were already merged; re-admitting
        them skews counters and fingerprint-derived work).

    Residual accepted ambiguity: when BOTH siblings exist on disk and a
    side form-encoded a space into '+' (real encoders percent-encode),
    exact-match-first picks the wrong sibling — unresolvable from
    strings; key-level LWW dedup bounds the blast radius to counter
    skew."""
    from urllib.parse import unquote, unquote_plus

    def resolve(r: str) -> set[str]:
        cands = [r, unquote(r), unquote_plus(r)]
        if feed_dir is not None:
            for c in cands:
                if os.path.exists(os.path.join(feed_dir, c)):
                    return {c}
        return set(cands)

    want: set[str] = set()
    for r in rel_new:
        want |= resolve(r)
    w = sorted(want)
    rel_raw = F.array_join(F.slice(F.split(F.col("__file"), "/"), -2, 2), "/")
    rel_dec = F.coalesce(F.try_url_decode(rel_raw), rel_raw)
    pred = rel_raw.isin(w) | rel_dec.isin(w)
    excl: set[str] = set()
    for r in rel_applied or ():
        excl |= resolve(r)
    excl -= want
    if excl:
        pred = pred & ~rel_raw.isin(sorted(excl))
    return pred


def segment_listing(feed_dir: str, sname: str) -> set[str]:
    """Current on-disk parquet file set of a feed segment, in the decoded
    segment-relative identity used for fingerprints. Used by the
    streaming trigger core's completion bookkeeping and the immutability
    check."""
    from urllib.parse import unquote

    d = os.path.join(feed_dir, unquote(sname))
    try:
        return {
            f"{unquote(sname)}/{fn}"
            for fn in os.listdir(d)
            if fn.endswith(".parquet")
        }
    except OSError:
        return set()


def check_segment_immutability(
    feed_dir: str,
    seg_names: list[str],
    ledgers: list[tuple[LakeTable, dict[str, str]]],
) -> None:
    """Refuse a trigger that touches a COMPLETED segment whose on-disk
    listing no longer matches its completion fingerprint — a producer
    kept writing into (or deleted from) a segment after it completed.
    Segments are immutable by contract; a name-membership short-circuit
    would otherwise skip the late file silently, permanently.

    ``ledgers``: per-table (table, committed_segments()) pairs — the
    caller already materialized the ledger snapshots for its new-file
    filtering, so this check does no extra manifest I/O on the happy
    path (the listing is read once per suspect segment, and the
    ``full_commits`` legacy probe only on a fingerprint mismatch).

    Entries CERTIFIED as listing fingerprints (``listing_segments`` —
    style-marked at write time) refuse a mismatch definitively. LEGACY
    tolerance for the rest: older ledger entries record the committing
    BATCH ID instead of the listing fingerprint (documented on
    ``committed_segments``), and a value present in the table's own
    commit ledger is such a record — the mismatch proves nothing about
    segment mutation, so those fall back to the name-membership
    semantics they were written under instead of bricking the stream.
    (Without the style marker, a single-trigger completion's batch id
    ALWAYS equals the listing fingerprint, so the legacy probe would
    silently skip every mutated common-case segment.)

    Called once, from the streaming trigger core that ``run_stream`` and
    ``route_stream`` share (``cdc/stream._trigger_bookkeeping``)."""
    for sname in sorted(set(seg_names)):
        cur_fp: str | None = None
        listed = False
        for t, segs in ledgers:
            if sname not in segs:
                continue
            fp = segs[sname]
            if not listed:
                cur = segment_listing(feed_dir, sname)
                cur_fp = batch_fingerprint(sorted(cur)) if cur else None
                listed = True
            if cur_fp == fp:
                continue
            if sname not in t.listing_segments() and fp in t.full_commits():
                continue
            raise SegmentReuseError(
                f"segment {sname!r} is ledgered complete but its current "
                f"listing differs from the completion fingerprint — a "
                f"file landed in (or vanished from) a completed segment; "
                f"segments are immutable by contract"
            )


def feed_files_nonempty(feed_dir: str, rel_files: list[str]) -> bool:
    """Driver-side parquet-footer probe: does ANY of the given
    segment-relative feed files contain at least one row?

    Used only on the ZERO-ROW failure path of the streaming drivers'
    expect-rows guard (never per trigger): a producer may legitimately
    write a zero-row parquet file (an empty partition), and raising on
    it pre-commit would crash the stream into a permanent redelivery
    loop with no operator escape. If every matched file's footer says 0
    rows, the batch genuinely is empty — commit/ledger it as such. An
    unreadable or unresolvable file counts as non-empty so the loud
    guard stays armed."""
    import pyarrow.parquet as pq
    from urllib.parse import unquote, unquote_plus

    for rel in rel_files:
        p = None
        for cand in (rel, unquote(rel), unquote_plus(rel)):
            fp = os.path.join(feed_dir, cand)
            if os.path.exists(fp):
                p = fp
                break
        if p is None:
            return True
        try:
            if pq.read_metadata(p).num_rows > 0:
                return True
        except Exception:
            return True
    return False


def batch_fingerprint(source_files: list[str]) -> str:
    """Deterministic batch id from the set of input files — Spark may re-run
    a foreachBatch after failure with a fresh epoch id, so idempotence must
    key on the INPUT, not Spark's epoch."""
    h = hashlib.md5()
    for f in sorted({_segment_relative(f) for f in source_files}):
        h.update(f.encode())
        h.update(b"\x00")
    return h.hexdigest()


def _payload_str_cols(batch: DataFrame) -> tuple[str, ...]:
    """String payload columns the oversize guard applies to — computed
    from the batch's OWN schema so the guard follows column renames
    (rename_column) and trimmed/extended envelopes instead of
    hard-coding 'text'."""
    skip = {"op", "conv_id", "source_file"}
    return tuple(
        f.name for f in batch.schema.fields
        if f.dataType.typeName() == "string" and f.name not in skip
    )


def _oversize_pred(str_cols: tuple[str, ...]) -> F.Column:
    """True when ANY string payload column breaches the row-size guard."""
    p = F.lit(False)
    for c in str_cols:
        p = p | (F.coalesce(F.octet_length(F.col(c)), F.lit(0)) >= MAX_TEXT_BYTES)
    return p


def _ok_predicate(
    ops: tuple[str, ...] = VALID_OPS, str_cols: tuple[str, ...] = ("text",)
) -> F.Column:
    return (
        F.col("op").isin(*ops)
        & F.col("conv_id").isNotNull()
        & F.col("turn_idx").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("op_seq").isNotNull()
        & ~_oversize_pred(str_cols)
    )


def validate_events(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split (valid, failed). Pure column predicates — pushed into the scan."""
    ok = _ok_predicate(str_cols=_payload_str_cols(batch))
    return batch.filter(ok), batch.filter(~ok)


def _failure_reason(
    ops: tuple[str, ...],
    cons_viol: dict[str, F.Column] | None = None,
    str_cols: tuple[str, ...] = ("text",),
) -> F.Column:
    """First matching rejection reason, mirroring _ok_predicate clause by
    clause (kept adjacent so the two can't drift). Declared-constraint
    violations (``cons_viol``: name -> violation predicate) append their
    own ``constraint:<name>`` reasons."""
    r = (
        F.when(~F.col("op").isin(*ops), F.lit("bad_op"))
        .when(F.col("conv_id").isNull() | F.col("turn_idx").isNull(),
              F.lit("null_key"))
        .when(F.col("ts").isNull(), F.lit("null_ts"))
        .when(F.col("op_seq").isNull(), F.lit("null_op_seq"))
        .when(_oversize_pred(str_cols), F.lit("oversize_text"))
    )
    for name, pred in (cons_viol or {}).items():
        r = r.when(pred, F.lit(f"constraint:{name}"))
    return r.otherwise(F.lit("unknown"))


def _constraint_predicates(table: LakeTable) -> dict[str, dict[str, F.Column]]:
    """Compile the table's declared expectations into violation
    predicates, grouped by policy. SQL CHECK semantics: a row violates
    only when the expression IS FALSE (NULL passes). Tombstones and
    sparse patches are exempt — their NULL payloads mean "absent",
    not "invalid"."""
    upsert = F.col("op").isin("I", "U")
    out: dict[str, dict[str, F.Column]] = {"fail": {}, "drop": {}, "warn": {}}
    for name, c in table.constraints().items():
        pred = F.coalesce(
            upsert & F.expr(c["expr"]).eqNullSafe(F.lit(False)), F.lit(False)
        )
        out[c["policy"]][name] = pred
    return out


def _any_of(preds) -> F.Column:
    import functools
    import operator

    return functools.reduce(operator.or_, preds)


def _write_quarantine(
    batch: DataFrame,
    ops: tuple[str, ...],
    quarantine_dir: str,
    batch_id: str,
    cons_viol: dict[str, F.Column] | None = None,
) -> None:
    """Dead-letter the batch's invalid rows: parquet under
    <quarantine_dir>/<batch_id>/ with a per-row ``reason`` column, keys and
    payload cast to string (a quarantined row may be malformed precisely in
    its types). Overwrite-by-batch_id keeps redelivery idempotent. Runs
    only when the batch HAS failures (one extra pushed-down scan then) —
    clean batches never pay it. The reference's analog: per-test error
    counters + logs (/root/reference/task/task.go:139-173,
    /root/reference/etl/etl.go:116-117) — a standalone engine keeps the
    rows, not just the count, so producers can be debugged and the batch
    re-emitted."""
    str_cols = _payload_str_cols(batch)
    ok = _ok_predicate(ops, str_cols)
    if cons_viol:
        ok = ok & ~_any_of(cons_viol.values())
    bad = batch.filter(~ok).select(
        *[F.col(c).cast("string").alias(c) for c in batch.columns],
        _failure_reason(ops, cons_viol, str_cols).alias("reason"),
        F.lit(batch_id).alias("batch_id"),
        F.current_timestamp().alias("quarantined_ts"),
    )
    bad.write.mode("overwrite").parquet(os.path.join(quarantine_dir, batch_id))


def _ts_literal(us: int, ts_type: str) -> F.Column:
    """An event-time literal matching the column's timestamp flavor
    (parquet loads as TIMESTAMP_NTZ under Spark 4; generated feeds may be
    TIMESTAMP — comparisons must not coerce through the session zone)."""
    iso = datetime(1970, 1, 1) + timedelta(microseconds=us)
    kw = "TIMESTAMP_NTZ" if ts_type == "timestamp_ntz" else "TIMESTAMP"
    return F.expr(f"{kw} '{iso.strftime('%Y-%m-%d %H:%M:%S.%f')}'")


def apply_batch(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    batch_id: str,
    source_files: list[str] | None = None,
    fail_threshold: float = 0.10,
    segments: list[str] | dict[str, str] | None = None,
    input_files: list[str] | None = None,
    late_watermark_sec: float | None = None,
    mode: str = "cow",
    allow_patches: bool = False,
    quarantine_dir: str | None = None,
    expect_rows=False,  # bool or () -> bool (zero-row path only)
) -> MergeStats:
    """Validate + (optionally) drop too-late events + dedup + MERGE.

    ``quarantine_dir``: dead-letter invalid rows (with a ``reason`` column)
    under <dir>/<batch_id>/ — written only when the batch HAS failures,
    including a failfast abort (the quarantine is the debugging evidence
    for exactly the batch that refused to commit).

    ``allow_patches``: accept op='P' partial-update events (sparse payload,
    NULL = unchanged; see cdc/patch.py) and route the batch through the
    per-column-LWW patch merge. OFF by default — with it off, 'P' events
    count as failed rows (loud, budget-enforced) instead of being silently
    misapplied as full-row upserts.

    ``mode``: "cow" (join + rewrite touched buckets) or "mor" (append LWW
    deltas, resolve at read/compaction — see lake/merge.py).

    ``late_watermark_sec``: events older than (table high-watermark −
    delay) are dropped and counted ``late_dropped`` — the batch analog of
    ``withWatermark``. OFF by default: correctness comes from ts-based LWW
    (the reference ASSUMES in-order input and panics otherwise,
    /root/reference/parser/ndt.go:226-238 — we must not); the watermark
    only bounds lateness for state-expiry purposes (expire_tombstones).
    """
    if table.is_committed(batch_id):
        s = MergeStats(batch_id=batch_id)
        s.skipped_idempotent = True
        return s
    # NOTE: no persist() on the batch — micro-batches are file-backed, and
    # re-scanning parquet is ~10× cheaper than materializing the
    # block-manager cache (measured: 0.2-0.8s re-scan vs ~7s cache build
    # for a 275k-row batch on local[32]).
    ts_type = batch.schema["ts"].dataType.typeName()
    late_pred = F.lit(False)
    if late_watermark_sec is not None:
        wm = table.high_watermark_us()
        if wm is not None:
            threshold_us = wm - int(late_watermark_sec * 1_000_000)
            late_pred = F.col("ts") < _ts_literal(threshold_us, ts_type)
    # Validation counters ride the merge's fused scan as an Observation —
    # computed DURING pass 1, no standalone aggregation job.
    ops = VALID_OPS + ("P",) if allow_patches else VALID_OPS
    cons = _constraint_predicates(table)
    if cons["fail"]:
        # zero-tolerance expectations must abort BEFORE any write — in MOR
        # mode the validation counters only fill during the delta-append
        # job itself, which is too late. One pushed-down probe scan per
        # batch, paid only when a fail-policy constraint is declared
        # (short-circuits on the first violation).
        if not batch.filter(_any_of(cons["fail"].values())).isEmpty():
            if quarantine_dir is not None:
                _write_quarantine(
                    batch, ops, quarantine_dir, batch_id,
                    cons_viol={**cons["drop"], **cons["fail"]},
                )
            counts = batch.agg(
                *[
                    F.sum(F.when(p, F.lit(1)).otherwise(F.lit(0))).alias(n)
                    for n, p in cons["fail"].items()
                ]
            ).first().asDict()
            viol = {k: int(v or 0) for k, v in counts.items() if v}
            raise BatchFailedError(
                f"batch {batch_id}: fail-policy constraint violations "
                f"{viol} — aborting before any write"
            )
    ok = _ok_predicate(ops, _payload_str_cols(batch))
    if cons["drop"]:
        # drop-policy violations are ordinary failed rows: counted against
        # the error budget, quarantined with a constraint:<name> reason
        ok = ok & ~_any_of(cons["drop"].values())
    counters = Observation()
    agg_cols = [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.when(ok, F.lit(0)).otherwise(F.lit(1))), F.lit(0)
        ).alias("bad"),
        F.coalesce(
            F.sum(F.when(ok & late_pred, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
        ).alias("late"),
        F.max(F.when(ok, F.col("ts"))).alias("max_ts"),
    ]
    for n, p in cons["warn"].items():
        agg_cols.append(
            F.coalesce(
                F.sum(F.when(p, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
            ).alias(f"cwarn_{n}")
        )
    observed = batch.observe(counters, *agg_cols)
    valid = observed.filter(ok & ~late_pred)
    patch_probe = None
    if allow_patches:
        # Route through the read-modify-write patch merge only when the
        # batch actually carries a patch: the probe is one short-circuit
        # scan of the (file-backed, op-pushed-down) batch, vs. paying a
        # touched-bucket table read on every patch-free micro-batch of a
        # stream that merely ALLOWS patches. Probes the raw batch, not
        # ``observed`` — a limit-1 action on the observed plan could fill
        # the counters from a partial scan. The probe carries the SAME
        # validity predicate as the merged rows (ok & ~late): an invalid
        # or late patch row must not disable the fast-append path or
        # widen the per-column aggregation buffers, since it never
        # reaches the merge.
        patch_probe = batch.filter((F.col("op") == "P") & ok & ~late_pred)
        allow_patches = not patch_probe.isEmpty()
        if not allow_patches:
            patch_probe = None
    if quarantine_dir is not None and not batch.filter(~ok).isEmpty():
        # BEFORE the merge: a crash between commit and a post-commit
        # quarantine write would lose the dead-letter rows forever (the
        # committed batch_id no-ops on redelivery and never retries the
        # write). Pre-commit, redelivery simply overwrites — idempotent.
        # The isEmpty probe short-circuits, so clean batches pay one
        # pushed-down limit-1 scan only when quarantine is enabled.
        _write_quarantine(batch, ops, quarantine_dir, batch_id,
                          cons_viol=cons["drop"])
    resilient = _ResilientCounters(counters, batch, agg_cols)
    stats = merge_into(
        spark,
        table,
        valid,
        batch_id,
        counters=resilient,
        fail_threshold=fail_threshold,
        source_files=source_files,
        segments=segments,
        input_files=input_files,
        mode=mode,
        allow_patches=allow_patches,
        patch_probe=patch_probe,
        expect_rows=expect_rows,
    )
    if cons["warn"]:
        c = resilient.get  # filled by the merge's pass-1/write job
        stats.constraint_warns = {
            n: int(c[f"cwarn_{n}"]) for n in cons["warn"]
        }
    return stats


def requeue_quarantine(
    spark: SparkSession,
    table: LakeTable,
    quarantine_dir: str,
    batch_ids: list[str] | None = None,
    reasons: list[str] | None = None,
    mode: str = "cow",
    allow_patches: bool = False,
    fail_threshold: float = 0.10,
) -> MergeStats:
    """Re-apply dead-lettered rows after the cause is fixed (producer
    redeployed, constraint relaxed, oversize limit raised) — the second
    half of the dead-letter contract: quarantine keeps the ROWS so they
    can re-enter the pipeline, not just be counted. The reference's
    failed rows are gone once logged (per-task error counters only,
    /root/reference/task/task.go:139-173); a standalone engine must be
    able to drain its dead-letter queue.

    Rows are re-typed from the quarantine's all-string encoding back to
    the change schema (a cast failure yields NULL, which the normal
    validation counts failed again), filtered by ``batch_ids`` and/or
    ``reasons`` if given, and applied as ONE new batch whose id derives
    from the source (batch_id, reason, op_seq) set — so a requeue is
    itself idempotent, and rows that STILL violate re-quarantine under
    the new batch id rather than dropping silently. Rows that were
    meanwhile superseded by newer upserts lose LWW as usual (requeue
    never resurrects old data past a newer write)."""
    from etl_spark.schema import CHANGE_SCHEMA

    src = spark.read.parquet(
        *(
            [os.path.join(quarantine_dir, b) for b in batch_ids]
            if batch_ids
            else [os.path.join(quarantine_dir, "*")]  # one subdir per batch
        )
    )
    if reasons:
        src = src.filter(F.col("reason").isin(*reasons))
    # deterministic requeue identity from the quarantined row set, computed
    # DISTRIBUTED: the quarantine accumulates across every batch of a
    # long-running pipeline, so collecting row identities to the driver is
    # unbounded (a poisoned feed that dead-letters millions of rows would
    # OOM the RECOVERY path). sum/bit_xor over per-row xxhash64 plus the
    # count form an order-insensitive digest — same row set ⇒ same id
    # regardless of partitioning, which is all idempotence needs.
    d = src.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal sum: a long sum overflows under ANSI once ~billions of
        # hash values accumulate (sum of decimal(28,0) widens to (38,0))
        F.sum(F.xxhash64("batch_id", "reason", "op_seq").cast("decimal(28,0)")).alias("hsum"),
        F.expr("bit_xor(xxhash64(batch_id, reason, op_seq))").alias("hxor"),
    ).first()
    requeue_id = "requeue-" + hashlib.md5(
        f"{d['n']}|{d['hsum']}|{d['hxor']}".encode()
    ).hexdigest()[:16]
    ts_type = table.user_schema()["ts"].dataType.simpleString()
    batch = src.select(
        *[
            F.col(f.name).cast(
                ts_type if f.name == "ts" else f.dataType.simpleString()
            ).alias(f.name)
            for f in CHANGE_SCHEMA.fields
            if f.name in src.columns
        ]
    )
    return apply_batch(
        spark,
        table,
        batch,
        requeue_id,
        fail_threshold=fail_threshold,
        mode=mode,
        allow_patches=allow_patches,
        quarantine_dir=quarantine_dir,
    )


def replay_feed(
    spark: SparkSession,
    table: LakeTable,
    feed_dir: str,
    fail_threshold: float = 0.10,
    late_watermark_sec: float | None = None,
    mode: str = "cow",
    json_schema=None,
    auto_compact_files: int | None = None,
    allow_patches: bool = False,
    quarantine_dir: str | None = None,
) -> list[MergeStats]:
    """Batch-mode replay of a feed directory (one subdir per binlog segment,
    lexicographic order = arrival order). Used by tests, bench, and as the
    debug single-archive path. Resumable by construction: already-committed
    batches no-op via their input fingerprint.

    Segments may be parquet (snappy/zstd/gzip — codec is transparent to the
    scan) or gzip-compressed JSON-lines (``*.json.gz``), the wire shape of
    the reference's archive feeds (gzip member files inside tar archives,
    /root/reference/storage/storage.go:77-121). JSONL segments are read with
    the explicit change-event schema (``json_schema``, default
    ``CHANGE_SCHEMA``) — never schema inference, which would cost a second
    pass over 100 TB and type timestamps as strings.

    ``auto_compact_files``: inline maintenance policy — after each applied
    batch, bin-pack (LWW-collapsing) any bucket that has accumulated more
    than this many data files. Merge-on-read appends one delta file per
    touched bucket per batch, so an unbounded stream needs this bound or
    read amplification grows linearly with batches; compaction rewrites
    ONLY offending buckets and commits through the same atomic snapshot
    path (idempotence ledger and time-travel unaffected)."""
    out: list[MergeStats] = []
    seg_fp = table.committed_segments()
    _JSON_EXTS = (".json.gz", ".jsonl.gz", ".json", ".jsonl")
    for name in sorted(os.listdir(feed_dir)):
        d = os.path.join(feed_dir, name)
        if not os.path.isdir(d):
            continue
        files = sorted(
            os.path.join(d, f)
            for f in os.listdir(d)
            if f.endswith(".parquet") or f.endswith(_JSON_EXTS)
        )
        if not files:
            continue
        bid = batch_fingerprint(files)
        # skip only on proven content identity: this exact batch committed,
        # or the segment completed earlier (replay OR streaming) with the
        # SAME content fingerprint. A committed segment name whose current
        # content differs is a contract violation (segments are immutable;
        # reused names across feeds collide) — refuse loudly, because the
        # old behavior (skip by name) silently dropped the new data.
        if table.is_committed(bid) or seg_fp.get(name) == bid:
            s = MergeStats(batch_id=bid)
            s.skipped_idempotent = True
            out.append(s)
            continue
        if name in seg_fp:
            raise SegmentReuseError(
                f"segment {name!r} is already committed with different "
                f"content (ledger fp {seg_fp[name][:12]}…, current "
                f"{bid[:12]}…). Segment names are immutable by contract — "
                f"feeds replayed into one table must use distinct segment "
                f"names (a real binlog never reuses a segment number)."
            )
        if files[0].endswith(".parquet"):
            df = spark.read.parquet(d)
        else:
            if json_schema is None:
                from etl_spark.schema import CHANGE_SCHEMA as json_schema
            df = (
                spark.read.schema(json_schema)
                # µs-precision timestamps (default JSON format is millis;
                # LWW ordering is µs-sensitive)
                .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
                .json(files)
            )
        out.append(
            apply_batch(
                spark, table, df, bid, source_files=[name],
                fail_threshold=fail_threshold, segments={name: bid},
                input_files=[_segment_relative(f) for f in files],
                late_watermark_sec=late_watermark_sec, mode=mode,
                allow_patches=allow_patches, quarantine_dir=quarantine_dir,
            )
        )
        if auto_compact_files is not None:
            table.compact_small_files(spark, auto_compact_files)
    return out


def wap_replay(
    spark: SparkSession,
    table: LakeTable,
    feed_dir: str,
    audit=None,
    branch_name: str | None = None,
    **replay_kwargs,
) -> list[MergeStats]:
    """Write-audit-publish replay (the Iceberg WAP pattern over the
    engine's branch refs): stage the whole feed's commits on a branch,
    run the audit against the STAGED view, and only then atomically
    publish — readers of the published table never see a feed that fails
    its audit, and a mid-replay crash leaves the published table
    untouched (the staged branch either resumes — the idempotence ledger
    lives in the branch manifests — or is dropped and collected).

    ``audit(branch_view: LakeTable) -> bool`` may read the staged state
    (``branch_view.read(spark)``), metrics (``metrics_df``), or run any
    gate (error budget, near-dup admission, row-count reconciliation —
    the checks the reference delegates to gardener's post-hoc validation,
    /root/reference/etl/etl.go:116-117). Return False or raise to reject.
    Default audit: the per-batch counting invariant
    events_in == failed + late_dropped + dup_dropped + applied."""
    name = branch_name or f"wap-{uuid.uuid4().hex[:8]}"
    try:
        br = table.branch(name)  # resume a crashed/interrupted WAP attempt
    except ValueError:
        br = table.create_branch(name)
    try:
        stats = replay_feed(spark, br, feed_dir, **replay_kwargs)
        if audit is None:
            ok = all(
                s.skipped_idempotent
                or s.events_in
                == s.failed + s.late_dropped + s.dup_dropped + s.applied()
                for s in stats
            )
        else:
            ok = bool(audit(br))
    except Exception:
        table.drop_branch(name)
        raise
    if not ok:
        table.drop_branch(name)
        raise AuditFailedError(
            f"audit rejected staged branch {name}; published table "
            f"unchanged at v{table.current_version()}"
        )
    table.publish_branch(name)
    return stats
