"""Persisted IVF serving index — ANN top-k without touching the corpus.

``ops/simsearch.emb_ivf_topk`` demonstrates IVF *semantics* but re-assigns
every corpus vector to its centroid inside the query — a
scan-the-corpus-per-lookup pattern that cannot serve at 100 TB. This
module is the serving shape: centroid assignment happens ONCE, at ingest
(``add``), and is PERSISTED in cell-partitioned parquet segments; a query
assigns only its probes (a handful of rows against broadcast centroid
literals) and reads ONLY the probed cells' files — no corpus-wide stage
of any kind in the probe plan. Segments live in a ``lake/segstore.py``
store: a segment becomes visible only via its atomic pointer swap, so a
crashed ``add`` is invisible.

Layout::

    <path>/CURRENT                  {"segments": [...], "n_vecs": N,
                                     "cents": [[c, s[64], n], ...]}
    <path>/seg-*/cluster=<c>/*.parquet   (vec_id, cell, q, nsq)

Training (``train``) runs the same deterministic integer Lloyd iteration
as ``simsearch.emb_kmeans`` (shared assignment expression, shared oracle
math — round(x*1000) int quantization, g = nsq/n² − 2·dot/n, ties by
centroid id), so a DuckDB oracle can reproduce centroids, assignments,
and rankings bit-for-bit. Retraining is refused once segments exist:
stored assignments would silently mismatch new centroids (rebuild the
index instead — the Faiss contract).

Scale notes: ``add`` is one narrow map pass over the BATCH (broadcast
centroid literals, no shuffle) plus a cell-partitioned write. ``topk``
collects only the probe→cell map (bounded by n_probes × n_probe — metadata,
never row data), lists the matching cell DIRECTORIES from the segment
manifest, and hands Spark exactly those paths: the scan is pruned at file
level before the plan exists. Candidate scoring is broadcast(probes) ⋈
cells — the only distributed work is proportional to the probed cells.

Reference analog: the annotation/index sidecars the reference maintains
next to its archives so per-item lookups never rescan raw data
(/root/reference/etl/globals.go:309-323 routing + gardener's base_tables
join model, lifted to vector cells).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from etl_spark.lake.segstore import SegmentStore, parquet_rows
from etl_spark.ops.simsearch import (
    EMB_DIM,
    KMEANS_ITERS,
    KMEANS_K,
    _cos,
    _dot,
    _kmeans_assign,
    _kmeans_g_structs,
    _quantized,
)


def _kmeans_topn(cents: list[tuple[int, list[int], int]], n: int) -> F.Column:
    """Array of the ``n`` nearest centroid ids for the row's ``__q``,
    ordered by (g asc, c asc) — the multi-probe generalization of
    ``_kmeans_assign``, built from the SAME per-centroid struct array
    (simsearch._kmeans_g_structs) so the two can never diverge."""
    ordered = F.array_sort(_kmeans_g_structs(cents))
    return F.transform(F.slice(ordered, 1, n), lambda s: s["c"])


class IvfIndex:
    """Cell-partitioned persisted ANN index; see module docstring."""

    def __init__(self, path: str):
        self.path = path
        self.store = SegmentStore(path, r"(seg|compact)-.+")

    # ------------------------------------------------------------- state
    def _meta(self) -> dict:
        return self.store.meta({"segments": [], "n_vecs": 0, "cents": None})

    @property
    def n_vecs(self) -> int:
        return self._meta()["n_vecs"]

    def centroids(self) -> list[tuple[int, list[int], int]]:
        m = self._meta()
        if not m["cents"]:
            raise ValueError("index is untrained — call train() first")
        return [(int(c), [int(v) for v in s], int(n)) for c, s, n in m["cents"]]

    # ---------------------------------------------------------- training
    def train(
        self,
        spark: SparkSession,
        emb: DataFrame,
        k: int = KMEANS_K,
        iters: int = KMEANS_ITERS,
    ) -> list[tuple[int, list[int], int]]:
        """Deterministic integer Lloyd fit (init = the ``k`` lowest
        vec_ids, ``iters`` total assignment passes — the exact
        ``emb_kmeans`` procedure). Each update is ONE hash aggregate with
        64 per-dim sum buffers (k rows to the driver, never row data).
        Refused once segments exist: persisted assignments are bound to
        the centroids they were computed under."""
        m = self._meta()
        if m["segments"]:
            raise ValueError(
                "cannot retrain a populated index — stored cell assignments "
                "would mismatch the new centroids; build a fresh index"
            )
        e = _quantized(emb).select("vec_id", "__q")
        init = e.orderBy("vec_id").limit(k).collect()
        cents = sorted(
            (int(r["vec_id"]), [int(v) for v in r["__q"]], 1) for r in init
        )
        for _ in range(iters - 1):
            upd = (
                e.withColumn("__c", _kmeans_assign(cents))
                .groupBy("__c")
                .agg(
                    F.count("*").alias("n"),
                    *[
                        F.sum(F.element_at("__q", i + 1)).alias(f"s{i}")
                        for i in range(EMB_DIM)
                    ],
                )
                .collect()
            )
            by_c = {
                int(r["__c"]): (
                    [int(r[f"s{i}"]) for i in range(EMB_DIM)], int(r["n"])
                )
                for r in upd
            }
            cents = [
                (c, by_c[c][0], by_c[c][1]) if c in by_c else (c, s, n)
                for c, s, n in cents
            ]
        m["cents"] = [[c, s, n] for c, s, n in cents]
        self.store.commit(m)
        return cents

    # ------------------------------------------------------------ ingest
    def add(
        self, spark: SparkSession, emb: DataFrame, seg_name: str | None = None
    ) -> int:
        """Assign the batch to cells (broadcast centroid literals — one
        narrow map pass over the BATCH, no shuffle, no corpus read) and
        persist it as one cell-partitioned segment. Idempotent under a
        deterministic ``seg_name`` (redelivery finds the segment
        committed and skips; absorbed names count too). Returns vectors
        added."""
        cents = self.centroids()

        def write(seg_dir: str) -> int:
            (
                _quantized(emb)
                .withColumn("cluster", _kmeans_assign(cents))
                .select(
                    F.col("vec_id"),
                    F.col("cluster"),
                    # `cell` duplicates the partition value INSIDE the file
                    # so probed-cell reads need no basePath discovery
                    F.col("cluster").alias("cell"),
                    F.col("__q").alias("q"),
                    F.col("__nsq").alias("nsq"),
                )
                .write.mode("overwrite")
                .partitionBy("cluster")
                .parquet(seg_dir)
            )
            return parquet_rows(seg_dir)

        seg = f"seg-{seg_name}" if seg_name else self.store.new_name("seg")
        return self.store.append(self._meta(), seg, write, "n_vecs")

    # ------------------------------------------------------- maintenance
    def compact(
        self, spark: SparkSession, min_segments: int = 2, keep_last: int = 0
    ) -> dict | None:
        """Merge committed segments into ONE consolidated cell-partitioned
        segment behind the atomic pointer swap (the index analog of the
        table's ``compact_small_files`` / Iceberg rewrite_data_files).

        Every streaming ``add`` appends a segment, so without this verb a
        probe's driver-side ``plan_cells`` listing and its per-cell file
        fan-in grow O(triggers) forever. Compaction is a pure file merge
        (assignments are bound to the trained centroids, which never
        change after segments exist — retraining is refused), so probe
        results are identical before and after; the consolidated segment
        holds ONE file per cell (repartition by cluster → one task per
        cell writes it).

        The deterministic segment-name ledger survives in ``absorbed``
        (redelivered ``add``s still no-op); absorbed dirs are retired and
        swept by the next commit (lake/segstore.py), so probe plans built
        before the swap keep working until then. ``keep_last`` mirrors
        the neardup gate's contract but defaults to 0 here: the IVF probe
        has no own-segment exclusion, so absorbing every segment is safe.

        Returns {"absorbed": n, "segments": n_after, "files_before": n,
        "files_after": n} or None when below ``min_segments``."""

        def rewrite(src: list[str], out: str) -> None:
            # recursiveFileLookup skips partition discovery (multiple
            # roots conflict); the in-file ``cell`` duplicate is the
            # cluster id
            (
                spark.read.option("recursiveFileLookup", "true")
                .parquet(*src)
                .withColumn("cluster", F.col("cell"))
                .repartition("cluster")
                .select("vec_id", "cluster", "cell", "q", "nsq")
                .write.mode("overwrite")
                .partitionBy("cluster")
                .parquet(out)
            )

        return self.store.compact(rewrite, keep_last, min_segments)

    # ------------------------------------------------------------- probe
    def plan_cells(self, cells: list[int]) -> list[str]:
        """Existing cell directories for the probed cells across committed
        segments — the file-level pruning the probe plan is built from."""
        out = []
        for seg in self._meta()["segments"]:
            for c in sorted(set(cells)):
                d = os.path.join(self.path, seg, f"cluster={c}")
                if os.path.isdir(d):
                    out.append(d)
        return out

    def topk(
        self,
        spark: SparkSession,
        probes: DataFrame,
        k: int = 3,
        n_probe: int = 1,
        exclude_self: bool = True,
    ) -> DataFrame:
        """Exact-cosine top-k per probe over the probed cells only.
        ``probes``: (vec_id, embedding). The probe→cell map is collected
        (bounded by |probes| × n_probe — a fixed probe set, never corpus
        rows); the candidate scan reads exactly ``plan_cells`` paths."""
        cents = self.centroids()
        pe = _quantized(probes).select(
            F.col("vec_id").alias("q_id"),
            F.col("__q").alias("qv"),
            F.col("__nsq").alias("qn"),
            F.explode(_kmeans_topn(cents, n_probe)).alias("cell"),
        )
        pe = pe.localCheckpoint(eager=True)  # assign probes exactly once
        probe_cells = [int(r["cell"]) for r in pe.select("cell").distinct().collect()]
        paths = self.plan_cells(probe_cells)
        if not paths:
            return pe.select("q_id").limit(0).select(
                "q_id",
                F.lit(None).cast("long").alias("cand_id"),
                F.lit(None).cast("int").alias("rank"),
                F.lit(None).cast("double").alias("cos"),
            )
        cand = spark.read.parquet(*paths).select(
            F.col("vec_id").alias("cand_id"),
            F.col("cell"),
            F.col("q").alias("cv"),
            F.col("nsq").alias("cn"),
        )
        scored = F.broadcast(pe).join(cand, "cell")
        if exclude_self:
            scored = scored.filter(F.col("q_id") != F.col("cand_id"))
        scored = scored.select(
            "q_id", "cand_id", _cos(_dot("qv", "cv"), "qn", "cn").alias("cos")
        )
        w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "cand_id", "rank", "cos")
        )
