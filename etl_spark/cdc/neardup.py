"""Persisted near-duplicate indexes — the content-level seen-sets.

The Bloom sidecar (etl_spark/cdc/bloom.py) answers "has this KEY been
written before?"; this module answers "has this CONTENT (or something
almost identical) been ingested before?" — the admission gate a
training-data pipeline runs on every arriving batch before letting it
into the corpus. Reference analog: gardener's dedup of each incoming
archive against base_tables lifted from key-equality to content
near-duplication (/root/reference/schema/README.md:6-10).

Two indexes share one segmented base (``_SegmentedIndex``):

  * ``NearDupIndex`` — text. Stores each admitted document's 64-hash
    MinHash signature AND its 32 LSH band keys (both persisted at admit
    time, so probing never recomputes anything over the corpus). Score =
    fraction of agreeing minhashes, the unbiased Jaccard estimator — the
    index never needs the original text or shingles. With 64 hashes the
    estimate's std-dev at j=0.5 is ~sqrt(0.25/64) ≈ 0.06; callers wanting
    exact Jaccard re-rank returned pairs against the source texts
    (ops.textops.doc_minhash_pairs shows that pattern).
  * ``EmbNearDupIndex`` — embeddings. Stores quantized vectors
    (int64, round(x*1000), the repo-wide determinism contract — see
    ops/simsearch.py) + norms + random-hyperplane band keys (high-recall
    4×2 geometry, deterministic ±1 plane literals shared with the DuckDB
    oracle). Unlike text, the stored signal is complete, so candidates
    are scored by EXACT cosine.

Per-batch cost model (never per-corpus): one signature/quantize pass over
the BATCH (the segment write — the only execution of the hash stage),
then band-key equi-joins of the batch's bands against the index's
PERSISTED band files (shuffle bounded by band buckets), then a score join
fetching only candidate rows. The corpus is never re-hashed, never
re-projected, never cross-joined.

Durability: segments (sig + band parquet under one directory) live in a
``lake/segstore.py`` store — visible only via its atomic pointer swap
(a crashed append is invisible), name-ledger idempotent across
compaction, superseded files swept one commit later. Probe-only calls
write their batch segment to a TEMP dir (cleaned at process exit), not
the index.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from etl_spark.lake.segstore import SegmentStore, parquet_files, parquet_rows

#: compaction output file size target (bytes per merged sig/bands file)
TARGET_FILE_BYTES = 128 * 1024 * 1024


class _SegmentedIndex:
    """Append-only parquet segments in a ``SegmentStore``; see module doc."""

    #: subclasses set: id column name and score column name
    ID_COL = "doc_id"
    SCORE_COL = "score"

    def __init__(self, path: str):
        self.path = path
        self.store = SegmentStore(path, r"(seg|compact)-.+")

    # ------------------------------------------------------------- state
    def _meta(self) -> dict:
        return self.store.meta(
            {"segments": [], "n_docs": 0, "params": self._params()}
        )

    def _params(self) -> dict:
        return {}

    @property
    def n_docs(self) -> int:
        return self._meta()["n_docs"]

    def _admit(self, spark: SparkSession, batch: DataFrame, seg: str) -> int:
        """Write + commit the batch as segment ``seg``; a name already in
        the store's ledger (live or absorbed by compaction) is a no-op."""
        return self.store.append(
            self._meta(), seg,
            lambda d: self._write_segment(spark, batch, d), "n_docs",
        )

    def _read_committed(
        self, spark: SparkSession, sub: str, exclude: str | None = None
    ) -> DataFrame | None:
        m = self._meta()
        segs = [s for s in m["segments"] if s != exclude]
        if not segs:
            return None
        return spark.read.parquet(
            *[os.path.join(self.path, s, sub) for s in segs]
        )

    # ---------------------------------------------------- subclass hooks
    def _sigs_of(self, batch: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _bands_of(self, sigs: DataFrame) -> DataFrame:
        """sigs → (id, bi, bk) band rows (persisted at write time)."""
        raise NotImplementedError

    def _score(
        self, cand: DataFrame, left: DataFrame, right: DataFrame,
        broadcast_cand: bool = False,
    ) -> DataFrame:
        """(id, dup_of) candidates + sig rows → scored pairs.
        ``broadcast_cand``: the (cand ⋈ left) side is batch-bounded —
        broadcast it so the index-side ``right`` is scanned, not
        shuffled (streaming-gate mode)."""
        raise NotImplementedError

    # ------------------------------------------------------------ engine
    def _write_segment(
        self, spark: SparkSession, batch: DataFrame, seg_dir: str
    ) -> int:
        """Materialize the batch's signatures AND band rows under one
        segment dir — the single execution of the hash stage per batch;
        everything downstream (including the index side of every future
        probe) reads these files back. Returns the docs written."""
        sig_dir = os.path.join(seg_dir, "sig")
        self._sigs_of(batch).write.mode("overwrite").parquet(sig_dir)
        sigs = spark.read.parquet(sig_dir)
        self._bands_of(sigs).write.mode("overwrite").parquet(
            os.path.join(seg_dir, "bands")
        )
        return parquet_rows(sig_dir)

    def _dups_for_segment(
        self,
        spark: SparkSession,
        seg_dir: str,
        threshold: float,
        exclude_seg: str | None = None,
        with_origin: bool = False,
        max_band_bucket: int | None = None,
        broadcast_probe: bool = False,
    ) -> DataFrame:
        """``with_origin``: add a ``dup_src`` column ('index' = the pair's
        dup_of side is corpus content, 'batch' = both sides arrived in
        this segment) — consumers that DROP rows need the provenance,
        because a key can legitimately appear on both sides (its own
        earlier version in the index) and set-membership cannot
        distinguish the cases.

        ``max_band_bucket``: skew guard — band buckets holding more than
        this many members ON EITHER SIDE are excluded from candidate
        generation. A degenerate corpus (thousands of near-identical
        documents landing in one LSH bucket) otherwise makes the band
        join QUADRATIC in the bucket size. Recall degrades gracefully:
        members of an over-full bucket almost always share other,
        smaller buckets, and byte-identical floods are caught by the
        exact-hash layer (gate_and_admit) which is linear by
        construction.

        ``broadcast_probe``: streaming-gate mode — the BATCH side of the
        index join is the SHUFFLE_HASH build side (per-partition parallel
        hash maps; a broadcast here pays a single-threaded driver-side
        relation build, measured 5× the whole join at 8M batch band
        rows), the scored-candidate legs stay broadcast (candidates are
        tiny). The index leg ships only its 3 slim band columns through
        the exchange; an index-side groupBy for the bucket-size cap is
        still avoided (counting its buckets would aggregate the corpus
        each batch) — content-unique admission makes byte-equal index
        floods structurally impossible, and the batch side stays capped."""
        sigs = spark.read.parquet(os.path.join(seg_dir, "sig"))
        raw_nb = spark.read.parquet(os.path.join(seg_dir, "bands"))
        idx_sigs = self._read_committed(spark, "sig", exclude=exclude_seg)

        def _cap(bands: DataFrame) -> DataFrame:
            if max_band_bucket is None:
                return bands
            ok = (
                bands.groupBy("bi", "bk")
                .count()
                .filter(F.col("count") <= max_band_bucket)
                .drop("count")
            )
            return bands.join(ok, ["bi", "bk"], "left_semi")

        # ONE shuffle serves both the bucket-size cap and in-batch pair
        # enumeration: group the batch's band rows once, drop over-full
        # buckets by list size, and read capped band rows / member pairs
        # straight off the grouped lists (the join formulation costs two
        # more exchanges of the same rows). Checkpointed: the probe and
        # the in-batch leg both consume it.
        grouped = raw_nb.groupBy("bi", "bk").agg(
            F.collect_list(self.ID_COL).alias("ids")
        )
        if max_band_bucket is not None:
            grouped = grouped.filter(F.size("ids") <= max_band_bucket)
        grouped = grouped.localCheckpoint(eager=False)
        nb = grouped.select(
            "bi", "bk", F.explode("ids").alias(self.ID_COL)
        )
        parts = []
        if idx_sigs is not None:
            ib = self._read_committed(spark, "bands", exclude=exclude_seg)
            if not broadcast_probe:
                ib = _cap(ib)
            # batch side as the SHUFFLE_HASH build side. Measured at 8M
            # batch vs 16M index band rows: broadcast(batch) 6.2 s (the
            # relation build is single-threaded on the driver), plain AQE
            # join 2.5 s, SHUFFLE_HASH 1.2 s (per-partition parallel hash
            # maps, no sort). The index side shuffles only its 3 slim
            # columns; at cluster scale, flip the band store to a bucketed
            # catalog table to make the index leg shuffle-free entirely.
            probe_nb = nb.hint("SHUFFLE_HASH") if broadcast_probe else nb
            cand = (
                probe_nb.alias("x")
                .join(
                    ib.alias("y"),
                    (F.col("x.bi") == F.col("y.bi"))
                    & (F.col("x.bk") == F.col("y.bk")),
                )
                .select(
                    F.col(f"x.{self.ID_COL}").alias(self.ID_COL),
                    F.col(f"y.{self.ID_COL}").alias("dup_of"),
                )
                .distinct()
            )
            parts.append(
                self._score(
                    cand, sigs, idx_sigs, broadcast_cand=broadcast_probe
                ).withColumn("dup_src", F.lit("index"))
            )
        # in-batch pairs straight off the grouped member lists (no self-
        # join): each bucket of k members yields its k(k-1)/2 ordered
        # pairs. The higher-order functions are interpreted, but they run
        # per BUCKET (almost all size ≤ 2 after the cap), not per corpus
        # row — the shuffle they replace dominated.
        cand_in = (
            grouped.filter(F.size("ids") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "flatten(transform(ids, (x, i) -> "
                        "transform(slice(ids, i + 2, size(ids)), y -> "
                        "named_struct('a', least(x, y), 'b', greatest(x, y)))))"
                    )
                ).alias("p")
            )
            .select(
                F.col("p.a").alias(self.ID_COL),
                F.col("p.b").alias("dup_of"),
            )
            .distinct()
        )
        parts.append(
            self._score(cand_in, sigs, sigs).withColumn("dup_src", F.lit("batch"))
        )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out = out.filter(F.col(self.SCORE_COL) >= threshold)
        return out if with_origin else out.drop("dup_src")

    # ------------------------------------------------------- maintenance
    def compact(
        self, spark: SparkSession, min_segments: int = 2, keep_last: int = 1
    ) -> dict | None:
        """Merge committed segments' sig/band files into ONE consolidated
        segment behind the atomic pointer swap — the index analog of the
        lake table's ``compact_small_files`` (Iceberg rewrite_data_files).

        A long-lived gated stream appends one segment per trigger, so
        without this verb probe plans read O(triggers) ever-smaller files
        and the pointer's segment list grows without bound, even though
        each probe's ROW volume is bounded. Compaction is a pure file
        merge: row content is untouched, so probe results are identical
        before and after (modulo the own-segment exclusion, preserved by
        ``keep_last`` below).

        Contract:
          * ``keep_last`` newest segments are NEVER absorbed (min 1 for
            gate-fed indexes): the only redelivery that reaches the gate
            with an index-committed segment is a crash between the index
            commit and the table commit — always the NEWEST segment — and
            its ``exclude_seg`` probe plus drop-set determinism need that
            segment to still exist by name. (Checkpoint-loss redeliveries
            of OLDER files never reach the gate: the table's per-file
            ledger filters them first.)
          * the deterministic segment-name ledger SURVIVES absorption
            (``absorbed`` in the pointer), so a redelivered trigger whose
            segment was compacted away still no-ops its write.
          * absorbed dirs are retired, not deleted: lazy plans built
            before the swap keep reading until the NEXT commit sweeps
            them (lake/segstore.py).

        Returns {"absorbed": n, "segments": n_after, "files_before": n,
        "files_after": n} or None when below ``min_segments``."""

        def rewrite(src: list[str], out: str) -> None:
            for sub in ("sig", "bands"):
                paths = [os.path.join(s, sub) for s in src]
                nbytes = sum(
                    os.path.getsize(f) for p in paths for f in parquet_files(p)
                )
                # coalesce (no shuffle) to the byte-targeted file count —
                # the whole point is turning O(triggers) small files into
                # O(bytes / target) big ones. mergeSchema: a mixed-era
                # index (th-carrying gate segments alongside th-less
                # legacy add() segments) must not let an arbitrary file's
                # footer win and bake the narrower schema in permanently —
                # compaction is a pure file merge, columns included
                # (absent values → NULL, the same semantics the union
                # probe read sees).
                spark.read.option("mergeSchema", "true").parquet(*paths).coalesce(
                    max(1, -(-nbytes // TARGET_FILE_BYTES))  # ceil-div
                ).write.mode("overwrite").parquet(os.path.join(out, sub))

        return self.store.compact(rewrite, keep_last, min_segments)

    # ------------------------------------------------------------- API
    def find_dups(
        self, spark: SparkSession, batch: DataFrame, threshold: float = 0.5
    ) -> DataFrame:
        """Near-dup pairs for an arriving batch: batch-vs-index plus
        in-batch (id < dup_of). Does NOT mutate the index — the probe's
        segment lives in a temp dir removed at process exit."""
        return self._dups_for_segment(
            spark, self._temp_probe_segment(spark, batch), threshold
        )

    def add(self, spark: SparkSession, batch: DataFrame) -> int:
        """Append the batch's signatures + bands to the index (atomic:
        visible only via the pointer swap). Returns docs added."""
        return self._admit(spark, batch, self.store.new_name("seg"))

    def check_and_add(
        self, spark: SparkSession, batch: DataFrame, threshold: float = 0.5
    ) -> DataFrame:
        """The ingest-gate composition: admit the batch, then return its
        near-dup pairs (vs the corpus before it, and in-batch). One hash
        pass per batch (the segment write). Snapshot isolation is
        structural: the returned lazy plan reads only immutable parquet
        (the new segment + the index segments committed BEFORE this
        call), so it is unaffected by any later appends."""
        seg = self.store.new_name("seg")
        self._admit(spark, batch, seg)
        return self._dups_for_segment(
            spark, os.path.join(self.path, seg), threshold, exclude_seg=seg
        )

    def gate_and_admit(
        self, spark: SparkSession, batch: DataFrame, seg_name: str,
        threshold: float = 0.5, max_band_bucket: int | None = 128,
    ) -> DataFrame:
        """Crash-idempotent ingest gate for exactly-once pipelines: admit
        the batch under the DETERMINISTIC segment name ``seg_name`` (a
        redelivered batch finds its segment committed and skips the
        write), then return near-dup pairs probed against the index
        EXCLUDING the batch's own segment (so redelivery computes the
        same drop set it computed the first time, instead of self-duping
        every row). One hash pass per batch — the admitted segment's
        persisted sig/band files serve as the probe side too.

        Subclasses layer cheaper exact paths on top (NearDupIndex adds a
        text-hash layer and MinHashes only novel content).

        Redelivery of an ABSORBED segment (its files merged away by
        ``compact`` — only reachable when a checkpoint-loss replay gets
        past the table's per-file ledger): the write still no-ops, and
        the probe side is recomputed into a temp dir and probed WITHOUT
        own-segment exclusion. The batch's content now lives in the
        compacted corpus, so extra self-matches appear in the returned
        pairs — harmless by construction: the only consumer of a
        redelivered-absorbed trigger's drop set is a merge the table's
        commit ledger no-ops anyway (``keep_last`` ≥ 1 keeps the one
        redelivery that DOES matter — the newest segment — exact)."""
        return self._admit_and_probe(
            spark, batch, f"seg-{seg_name}", threshold,
            max_band_bucket=max_band_bucket,
        )

    def _admit_and_probe(
        self, spark: SparkSession, batch: DataFrame, seg: str,
        threshold: float, **probe_kw,
    ) -> DataFrame:
        """Admit ``batch`` as ``seg`` (no-op when already in the ledger),
        then probe it against the index minus its own segment."""
        self._admit(spark, batch, seg)
        if seg in self._meta()["segments"]:
            seg_dir, exclude = os.path.join(self.path, seg), seg
        else:
            # absorbed-segment redelivery: files merged away by compact —
            # recompute the probe side into a temp dir (see gate_and_admit
            # for why the resulting self-match noise is harmless)
            seg_dir, exclude = self._temp_probe_segment(spark, batch), None
        return self._dups_for_segment(
            spark, seg_dir, threshold, exclude_seg=exclude,
            with_origin=True, **probe_kw,
        )

    def _temp_probe_segment(self, spark: SparkSession, batch: DataFrame) -> str:
        """Probe-side segment in a temp dir (not the index) — cleaned at
        process exit."""
        tmp = tempfile.mkdtemp(prefix="etl_spark_ndprobe_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        seg_dir = os.path.join(tmp, "probe")
        self._write_segment(spark, batch, seg_dir)
        return seg_dir


class NearDupIndex(_SegmentedIndex):
    """Text near-dup index over (doc_id, text) batches; score column
    ``est_jaccard`` (signature-agreement Jaccard estimate).

    ``n_minhash`` sizes the signatures (bands = n_minhash/2, 2 hashes per
    band — the repo-wide geometry). An EXISTING index's stored width
    always wins (its sig files are that wide). The 64-hash default is
    corpus-analysis grade (σ≈0.06 at j=0.5); an INGEST GATE can run 16
    (σ≈0.125, detection ≥90% at j=0.5, ≥99.5% at j=0.7) for ~4× less
    hashing per event — the gate is an admission filter, and offline
    compaction dedup catches the tail with the full-width machinery."""

    ID_COL = "doc_id"
    SCORE_COL = "est_jaccard"

    def __init__(
        self,
        path: str,
        n_minhash: int | None = None,
        hash_fn: str | None = None,
    ):
        super().__init__(path)
        stored = (self.store.meta() or {}).get("params") or {}
        if stored.get("n_minhash") is None:
            from etl_spark.ops.textops import N_MINHASH

            self.n_minhash = int(n_minhash or N_MINHASH)
        else:
            self.n_minhash = int(stored["n_minhash"])
        # an existing index's stored hash family always wins (its sig/th
        # files were computed with it); md5 is the DuckDB-oracle-matched
        # default, "xxh64" the cheap family for oracle-less consumers
        self.hash_fn = stored.get("hash") or hash_fn or "md5"

    def _params(self) -> dict:
        return {
            "n_minhash": self.n_minhash,
            "n_bands": self.n_minhash // 2,
            "hash": self.hash_fn,
        }

    def _th_col(self) -> F.Column:
        """Exact-layer text hash under the index's hash family (md5 string
        vs xxhash64 long — comparisons only ever happen within one index)."""
        if self.hash_fn == "xxh64":
            return F.xxhash64(F.col("text"))
        return F.md5(F.col("text"))

    def _sigs_of(self, batch: DataFrame) -> DataFrame:
        """Docs without signatures (fewer than 3 words) are dropped — they
        cannot near-dup by shingles and pass the gate. ``th`` (text hash)
        rides along for the EXACT-duplicate fast layer: byte-equal floods
        resolve by hash grouping (linear), never by LSH pair enumeration
        (quadratic inside a degenerate band bucket). th is carried THROUGH
        the signature aggregate (F.first) — a join back against the batch
        would re-derive the batch upstream a second time."""
        from etl_spark.ops.textops import _signatures, _with_shingles

        return _signatures(
            _with_shingles(batch.withColumn("th", self._th_col())),
            self.n_minhash,
            carry_shingles=False,
            hash_fn=self.hash_fn,
            carry=("th",),
        )

    def _bands_of(self, sigs: DataFrame) -> DataFrame:
        from etl_spark.ops.textops import _sig_bands

        return _sig_bands(sigs, self.n_minhash // 2)

    def _score(
        self, cand: DataFrame, left: DataFrame, right: DataFrame,
        broadcast_cand: bool = False,
    ) -> DataFrame:
        matches = sum(
            F.when(F.col(f"a.s{i}") == F.col(f"b.s{i}"), 1).otherwise(0)
            for i in range(self.n_minhash)
        )
        est = (matches / F.lit(float(self.n_minhash))).alias(self.SCORE_COL)
        small = cand.join(left.alias("a"), cand.doc_id == F.col("a.doc_id"))
        if broadcast_cand:
            small = F.broadcast(small)
        return (
            small.join(right.alias("b"), cand.dup_of == F.col("b.doc_id"))
            .select(cand.doc_id, cand.dup_of, est)
        )

    def gate_and_admit(
        self, spark: SparkSession, batch: DataFrame, seg_name: str,
        threshold: float = 0.5, max_band_bucket: int | None = 128,
    ) -> DataFrame:
        """Text-specialized gate: MinHash ONLY new unique content.

        Layering (each linear in the batch):
          1. th = md5(text) for every batch doc — 1 hash/doc, ~20× cheaper
             than a signature.
          2. exact layer: in-batch keep-min-per-th + th-join against the
             index — resolves byte-equal duplicates at ANY multiplicity
             by grouping, never pair enumeration.
          3. only th-representatives whose content the index has NOT seen
             get shingled+minhashed and admitted — the index stores each
             distinct content exactly once, so a dup-heavy stream (the
             case a gate exists for) pays signature cost only on its
             NOVEL bytes, and index band buckets cannot accumulate
             identical members.
          4. banded near-dup probe over those representatives, buckets
             capped at ``max_band_bucket``.

        Crash-idempotent like the base version: the segment is named by
        the batch id; exact-layer pairs are recomputed from the batch
        itself (pure function) and the probe excludes the own segment.
        """
        seg = f"seg-{seg_name}"
        one = F.lit(1.0).alias(self.SCORE_COL)
        # ONE shuffle for the whole exact layer: per-th keeper row (min_by
        # carries the text, so no join back) + member list (pairs and the
        # index probe explode it). Checkpointed once — three consumers
        # (exact pairs, index probe, segment write) would otherwise each
        # re-execute the batch upstream.
        th_groups = (
            batch.select("doc_id", "text")
            .withColumn("th", self._th_col())
            .groupBy("th")
            .agg(
                F.min_by(F.struct("doc_id", "text"), "doc_id").alias("k"),
                F.collect_list("doc_id").alias("ids"),
            )
            .localCheckpoint(eager=True)
        )
        exact_in = (
            th_groups.select(
                F.col("k.doc_id").alias("doc_id"),
                F.explode("ids").alias("dup_of"),
            )
            .filter(F.col("doc_id") != F.col("dup_of"))
            .select("doc_id", "dup_of", one, F.lit("batch").alias("dup_src"))
        )
        parts = [exact_in]
        idx_sigs = self._read_committed(spark, "sig", exclude=seg)
        vs_idx = None
        if idx_sigs is not None and "th" in idx_sigs.columns:
            # BROADCAST the batch th set and STREAM the index scan — a
            # shuffle (or groupBy) of the index side here is O(corpus)
            # per micro-batch and makes gate cost grow with index age.
            # gate-admitted segments store each content once, so the
            # plain join yields ≤1 index row per batch th from them
            # (dups from legacy add() segments just produce extra pairs,
            # which the consumer's drop-set union absorbs). Every member
            # of a matched th group is a dup of the index row.
            vs_idx = (
                F.broadcast(th_groups.select("th", "ids"))
                .join(idx_sigs.select(F.col("doc_id").alias("dup_of"), "th"), "th")
                .select(
                    F.explode("ids").alias("doc_id"),
                    "dup_of", one, F.lit("index").alias("dup_src"),
                )
                .localCheckpoint(eager=True)  # one index scan, reused below
            )
            parts.append(vs_idx)
        reps = th_groups.select(
            F.col("k.doc_id").alias("doc_id"), F.col("k.text").alias("text")
        )
        if vs_idx is not None:
            # content the index already has is not re-admitted; the known
            # set comes from the (already materialized) th join —
            # batch-sized, broadcast into the anti join
            reps = reps.join(
                F.broadcast(vs_idx.select("doc_id").distinct()),
                "doc_id", "left_anti",
            )
        out = self._admit_and_probe(
            spark, reps, seg, threshold,
            max_band_bucket=max_band_bucket, broadcast_probe=True,
        )
        for p in parts:
            out = out.unionByName(p)
        return out


class EmbNearDupIndex(_SegmentedIndex):
    """Embedding near-dup index over (vec_id, embedding) batches; score
    column ``cos4`` (exact cosine from the stored quantized vectors,
    rounded to 4 decimals AFTER the threshold filter would see the exact
    value — the filter runs on the rounded value to stay bit-identical
    with the oracle, which also rounds)."""

    ID_COL = "vec_id"
    SCORE_COL = "cos4"

    def _params(self) -> dict:
        from etl_spark.ops.simsearch import NEARDUP_BANDS, NEARDUP_BITS

        return {"bands": NEARDUP_BANDS, "bits": NEARDUP_BITS}

    def _sigs_of(self, batch: DataFrame) -> DataFrame:
        from etl_spark.ops.simsearch import _quantized

        return _quantized(batch).select(
            "vec_id", F.col("__q").alias("q"), F.col("__nsq").alias("nsq")
        )

    def _bands_of(self, sigs: DataFrame) -> DataFrame:
        from etl_spark.ops.simsearch import (
            NEARDUP_BANDS,
            NEARDUP_BITS,
            _band_cols_spark,
        )

        return sigs.withColumnRenamed("q", "__q").select(
            "vec_id",
            F.explode(_band_cols_spark(NEARDUP_BANDS, NEARDUP_BITS)).alias("bb"),
        ).select("vec_id", F.col("bb.band").alias("bi"), F.col("bb.bucket").alias("bk"))

    def _score(
        self, cand: DataFrame, left: DataFrame, right: DataFrame,
        broadcast_cand: bool = False,
    ) -> DataFrame:
        from etl_spark.ops.simsearch import _cos, _dot

        a = left.select(
            F.col("vec_id").alias("vec_id"), F.col("q").alias("qa"),
            F.col("nsq").alias("na"),
        )
        b = right.select(
            F.col("vec_id").alias("dup_of"), F.col("q").alias("qb"),
            F.col("nsq").alias("nb"),
        )
        cos = _cos(_dot("qa", "qb"), "na", "nb")
        small = cand.join(a, "vec_id")
        if broadcast_cand:
            small = F.broadcast(small)
        return (
            small.join(b, "dup_of")
            .select("vec_id", "dup_of", F.round(cos, 4).alias(self.SCORE_COL))
        )
