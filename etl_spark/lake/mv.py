"""Incrementally-maintained materialized view over a LakeTable.

The downstream-consumer pattern the reference exists to serve: its stable
dedup/join keys are there so the external job service can keep *derived*
tables in sync with the incoming feed (planned incoming → deduplicated
base_tables flow, /root/reference/schema/README.md:6-10). Here the engine
closes that loop itself: a per-conversation rollup that is refreshed from
the table's changelog instead of recomputed from scratch.

Maintenance algorithm (delta-scoped partial recompute):

1. Diff the table between the MV's last-synced snapshot and the current one
   (``changes_between`` — manifest-pruned to touched buckets).
2. The affected-key set = distinct conv_id in the diff. Counts/max/sum over
   a conversation are NOT incrementally invertible under LWW updates and
   deletes (an update replaces a row's contribution; max can't be
   decremented), so the MV re-aggregates exactly the affected
   conversations from the current snapshot — scanning only their hash
   buckets — and keeps every other MV row verbatim.
3. New rollups replace old rows via anti-join; conversations whose last
   live turn was deleted drop out naturally (no new rollup row).

Cost per refresh: O(changed keys + their buckets), independent of table
size — the property that makes a 10^10-event lake's derived tables
maintainable per micro-batch. The affected-key set is one micro-batch's
key set, so it broadcasts.

Storage: the MV is itself snapshot-versioned — a ``lake/segstore.py``
store (parquet dir per refresh + atomic pointer swap, superseded dirs
swept one commit later so a reader of the previous snapshot keeps
working), recording which table version it reflects, so MV refresh is
idempotent/resumable exactly like the main table's commits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from etl_spark.lake.segstore import SegmentStore
from etl_spark.lake.table import LakeTable


def conv_summary(state: DataFrame) -> DataFrame:
    """The view definition: per-conversation rollup of the live LWW state
    (same shape as ops.cdcq.CONV_STATS_SQL, the full-recompute oracle)."""
    return state.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.count("tool").alias("n_tool_turns"),
        F.max("ts").alias("last_ts"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


class KeyedMV:
    """A materialized view keyed by ``conv_id`` kept in sync with a
    LakeTable via changelog-scoped partial recompute.

    ``view_fn(state_df) -> DataFrame`` defines the view: any aggregation
    producing EXACTLY ONE row per conv_id (the delta-maintenance algebra
    re-aggregates affected conversations in isolation, which is only sound
    when the view's group key equals the table's partition key — a view
    keyed by anything else, e.g. per-tool totals, would need contributions
    from unaffected conversations and must full-refresh instead)."""

    #: adaptive cutover: when a refresh interval touches at least this
    #: fraction of the view's rows, the partial-maintenance machinery
    #: (changelog diff + keyed merge against the old view) costs more
    #: than simply recomputing the view from the snapshot — fall back to
    #: full_refresh. 1.0 disables the cutover.
    full_cutover: float = 0.5

    def __init__(self, path: str, view_fn=None):
        self.path = path
        self.view_fn = view_fn if view_fn is not None else conv_summary
        self.store = SegmentStore(path, r"v\d+-[0-9a-f]+")

    # ------------------------------------------------------------- state
    def _meta(self) -> dict | None:
        return self.store.meta()

    @property
    def table_version(self) -> int | None:
        """Table snapshot this MV currently reflects (None = never built)."""
        m = self._meta()
        return None if m is None else m["table_version"]

    def read(self, spark: SparkSession) -> DataFrame:
        m = self._meta()
        if m is None:
            raise ValueError(f"MV at {self.path} has never been refreshed")
        return spark.read.parquet(os.path.join(self.path, m["data"]))

    def _commit(self, df: DataFrame, table_version: int) -> None:
        # n_rows (parquet footers, no job) feeds the adaptive
        # full-recompute cutover on the next refresh
        self.store.replace(df, f"v{table_version}", table_version=table_version)

    def _advance(self, v_to: int) -> None:
        """Pointer-only commit: the version moved with no key changes, so
        the synced version advances without rewriting the view data."""
        m = self._meta()
        m["table_version"] = v_to  # keeps n_rows for the cutover
        self.store.commit(m)

    def _cutover_threshold(self) -> int | None:
        """Affected-key count at which partial maintenance loses to a full
        recompute (None = unknown view size or cutover disabled)."""
        m = self._meta()
        if m is None or m.get("n_rows") is None or self.full_cutover >= 1.0:
            return None
        return max(1, int(m["n_rows"] * self.full_cutover))

    # ----------------------------------------------------------- refresh
    def full_refresh(self, spark: SparkSession, table: LakeTable,
                     version: int | None = None) -> None:
        """Recompute the view from a full snapshot scan (bootstrap path)."""
        v = table.current_version() if version is None else version
        self._commit(self.view_fn(table.read(spark, version=v)), v)

    def refresh(
        self, spark: SparkSession, table: LakeTable, to_version: int | None = None
    ) -> int:
        """Incremental refresh to ``to_version`` (default: the table's
        current snapshot). Returns the number of affected conversations
        re-aggregated (0 = already current, -1 = bootstrapped). Falls back
        to full_refresh when the MV was never built."""
        v_from = self.table_version
        v_to = table.current_version() if to_version is None else to_version
        if v_from is None:
            self.full_refresh(spark, table, v_to)
            return -1
        if v_from == v_to:
            return 0
        changes = table.changes_between(spark, v_from, v_to)
        # affected keys of one refresh interval are micro-batch-sized:
        # persist them (the changelog join runs once), derive the bucket
        # list driver-side (bounded by n_buckets ints, never key data),
        # and broadcast the key set into both joins — the MV and the table
        # are never shuffled.
        affected = changes.select("conv_id").distinct().persist()
        try:
            n_affected = affected.count()  # materializes the persist
            if n_affected == 0:
                self._advance(v_to)
                return 0
            cut = self._cutover_threshold()
            if cut is not None and n_affected >= cut:
                # the interval touched most of the view: the keyed-merge
                # machinery (scoped re-agg + anti-join + union) costs more
                # than recomputing the view outright from the snapshot
                # (measured 2.7 s partial vs 0.9 s full on an
                # every-conversation interval at 400k events)
                self.full_refresh(spark, table, v_to)
                return n_affected
            # bucket ids must follow the TARGET snapshot's layout (the
            # table may have been rebucketed after v_to); reads the
            # persisted key set, not the diff
            n_buckets_to = table.manifest(v_to).n_buckets
            per_bucket = affected.select(
                table.bucket_expr(n_buckets=n_buckets_to).alias("b")
            ).groupBy("b").count().collect()
            buckets = sorted(int(r["b"]) for r in per_bucket)
            aff_df = F.broadcast(affected)
            scoped = table.read(spark, version=v_to, buckets=buckets).join(
                aff_df, "conv_id"
            )
            new_rollup = self.view_fn(scoped)
            kept = self.read(spark).join(aff_df, "conv_id", "left_anti")
            self._commit(kept.unionByName(new_rollup), v_to)
        finally:
            affected.unpersist()
        return n_affected


class ConvSummaryMV(KeyedMV):
    """The stock per-conversation rollup view (n_turns, n_tool_turns,
    last_ts, total_chars) — see ``conv_summary`` for the definition and
    ops.cdcq.CONV_STATS_SQL for its full-recompute oracle.

    Unlike the generic ``KeyedMV.refresh`` (re-aggregate every affected
    conversation from the current snapshot), this view's aggregates are
    DELTA-MAINTAINABLE from the changelog's pre/post images:

      * n_turns / n_tool_turns / total_chars are sums — updated
        arithmetically (new = old + f(post) − f(pre));
      * last_ts = max(ts) is not invertible, but ``greatest(old, added)``
        is correct UNLESS the interval removed a row carrying the old
        max — only those conversations (plus two rare ambiguity classes
        below) fall back to re-aggregation.

    Per-refresh cost: the changelog diff (O(buckets touched in the
    interval)) + one small keyed merge against the MV + a re-agg scoped
    to the fallback set. Against a workload where EVERY conversation is
    touched every trigger (the composition stress), the generic path
    re-scans each conversation's FULL history per refresh — measured
    growing 1.7→35 s per trigger as the table grew — while the delta
    path pays only the diff.

    Fallback classes (conservative, each checked per conversation):
      1. a removed pre-image's ts ≥ the old last_ts (old argmax possibly
         gone) and no added row restores a ≥ value;
      2. arithmetic total_chars ≤ 0 or old total_chars NULL — the sum
         cannot distinguish "all live texts NULL" (oracle says NULL)
         from "all empty strings" (oracle says 0) without a scan;
      3. a pre-image for a conversation the MV does not know (should not
         happen; heals drift by recomputing).

    Refresh telemetry: every delta refresh fills ``last_refresh_stats``
    with {n_affected, n_arith, n_reagg, reagg_class_1/2/3} (one tiny agg
    over the already-checkpointed merge frame), and the streaming driver
    records n_arith/n_reagg in its per-trigger progress rows — a
    workload that systematically trips a fallback class (silently
    degrading the delta path toward full re-agg) is now visible per
    refresh. Class 2 could be eliminated outright by persisting a
    per-conversation null-text count, but that would widen the MV's
    user-facing (oracle-matched) row schema for a rare ambiguity the
    telemetry now makes observable — deliberately not done.
    """

    #: cutover DISABLED here by default: this view is delta-maintainable
    #: from the changelog's pre/post images, so a worst-case trigger
    #: (every conversation touched) still costs O(interval diff + view),
    #: FLAT as the table grows — while a full recompute scans the whole
    #: (growing) table per trigger. Measured on the 16M-event composition
    #: stress: delta walls flat ~1-2 s/trigger vs full-recompute walls
    #: growing 1.2 → 32 s across 10 triggers. The generic KeyedMV keeps
    #: the cutover because its partial path re-aggregates affected
    #: conversations' full history anyway (same asymptotics as a full
    #: recompute, plus merge overhead).
    full_cutover: float = 1.0

    def __init__(self, path: str):
        super().__init__(path, conv_summary)
        #: telemetry of the LAST delta refresh on this handle (see class
        #: docstring): {n_affected, n_arith, n_reagg, reagg_class_1/2/3},
        #: or None when the last call bootstrapped / no-opped / cut over.
        self.last_refresh_stats: dict | None = None

    def refresh(
        self, spark: SparkSession, table: LakeTable, to_version: int | None = None
    ) -> int:
        self.last_refresh_stats = None
        v_from = self.table_version
        v_to = table.current_version() if to_version is None else to_version
        if v_from is None:
            self.full_refresh(spark, table, v_to)
            return -1
        if v_from == v_to:
            return 0
        ch = table.changes_between(spark, v_from, v_to, emit_pre=True)
        pre = F.col("_pre")
        pre_live = F.col("_change_type").isin("delete", "update_postimage")
        post_live = F.col("_change_type").isin("insert", "update_postimage")
        z = F.lit(0)
        d = (
            ch.groupBy("conv_id")
            .agg(
                F.sum(
                    F.when(post_live, 1).otherwise(0)
                    - F.when(pre_live, 1).otherwise(0)
                ).cast("long").alias("d_turns"),
                F.sum(
                    F.when(post_live & F.col("tool").isNotNull(), 1).otherwise(0)
                    - F.when(pre_live & pre["tool"].isNotNull(), 1).otherwise(0)
                ).cast("long").alias("d_tool"),
                F.sum(
                    F.when(post_live, F.coalesce(F.length("text"), z)).otherwise(0)
                    - F.when(pre_live, F.coalesce(F.length(pre["text"]), z)).otherwise(0)
                ).cast("long").alias("d_chars"),
                F.max(F.when(post_live, F.col("ts"))).alias("added_max_ts"),
                F.max(F.when(pre_live, pre["ts"])).alias("removed_max_ts"),
            )
            .localCheckpoint(eager=True)
        )
        n_affected = d.count()  # counts the checkpointed result, no recompute
        if n_affected == 0:
            # compaction/maintenance commits move the version only
            self._advance(v_to)
            return 0
        cut = self._cutover_threshold()
        if cut is not None and n_affected >= cut:
            # interval touched most of the view: skip the delta merge and
            # recompute outright (see KeyedMV.refresh for the measurement)
            self.full_refresh(spark, table, v_to)
            return n_affected
        old = self.read(spark)
        j = old.join(d, "conv_id", "full_outer")
        has_old = F.col("n_turns").isNotNull()
        max_ok = (
            # old argmax untouched -> greatest() is exact; or an added
            # row dominates everything the interval could have removed
            F.col("removed_max_ts").isNull()
            | (F.col("removed_max_ts") < F.col("last_ts"))
            | (
                F.col("added_max_ts").isNotNull()
                & (F.col("added_max_ts") >= F.col("last_ts"))
            )
        )
        new_total = F.coalesce(F.col("total_chars"), z.cast("long")) + F.coalesce(
            F.col("d_chars"), z.cast("long")
        )
        # fallback CLASS per affected conversation (0 = arithmetic path):
        # 3 = pre-image for an MV-unknown conversation (drift heal),
        # 1 = old max possibly removed, 2 = total_chars sign/NULL
        # ambiguity — ordered most-specific-first; mirrors the class list
        # in the class docstring so telemetry names match documentation
        reagg_class = F.when(
            F.col("d_turns").isNull(), F.lit(0)
        ).when(
            ~has_old,
            F.when(F.col("removed_max_ts").isNotNull(), F.lit(3)).otherwise(
                F.lit(0)
            ),
        ).when(~max_ok, F.lit(1)).when(
            (new_total <= 0) | F.col("total_chars").isNull(), F.lit(2)
        ).otherwise(F.lit(0))
        merged = (
            j.withColumn("__class", reagg_class)
            .withColumn("__reagg", F.col("__class") > 0)
            .localCheckpoint(eager=True)
        )
        # one tiny agg over the checkpointed frame fills the per-refresh
        # telemetry (no upstream recompute); recorded by the streaming
        # driver's progress rows
        cc = {
            int(r["__class"]): int(r["n"])
            for r in merged.filter(F.col("d_turns").isNotNull())
            .groupBy("__class").agg(F.count("*").alias("n")).collect()
        }
        self.last_refresh_stats = {
            "n_affected": n_affected,
            "n_arith": cc.get(0, 0),
            "n_reagg": sum(v for k, v in cc.items() if k > 0),
            "reagg_class_1": cc.get(1, 0),
            "reagg_class_2": cc.get(2, 0),
            "reagg_class_3": cc.get(3, 0),
        }
        arith = (
            merged.filter(F.col("d_turns").isNotNull() & ~F.col("__reagg"))
            .select(
                "conv_id",
                (F.coalesce(F.col("n_turns"), z.cast("long")) + F.col("d_turns"))
                .alias("n_turns"),
                (F.coalesce(F.col("n_tool_turns"), z.cast("long")) + F.col("d_tool"))
                .alias("n_tool_turns"),
                F.greatest(F.col("last_ts"), F.col("added_max_ts")).alias("last_ts"),
                new_total.alias("total_chars"),
            )
            .filter(F.col("n_turns") > 0)
        )
        kept = merged.filter(F.col("d_turns").isNull() & ~F.col("__reagg")).select(
            "conv_id", "n_turns", "n_tool_turns", "last_ts", "total_chars"
        )
        reagg_keys = merged.filter(F.col("__reagg")).select("conv_id")
        parts = [kept, arith]
        n_buckets_to = table.manifest(v_to).n_buckets
        # one job yields both "any fallback?" and the bucket list
        per_bucket = reagg_keys.groupBy(
            table.bucket_expr(n_buckets=n_buckets_to).alias("b")
        ).count().collect()
        if per_bucket:
            buckets = sorted(int(r["b"]) for r in per_bucket)
            scoped = table.read(spark, version=v_to, buckets=buckets).join(
                F.broadcast(reagg_keys), "conv_id"
            )
            parts.append(self.view_fn(scoped))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        self._commit(out, v_to)
        return n_affected
