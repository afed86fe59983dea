"""Persisted-index segment compaction (round-4 VERDICT ask #1): a
long-lived gated stream appends one index segment per trigger; compaction
must bound probe cost under unbounded uptime WITHOUT changing any probe
result or breaking ingest idempotence (the deterministic segment-name
ledger survives absorption)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from etl_spark.cdc.neardup import NearDupIndex

BASE = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "completely unrelated text about spark shuffle partitions and joins"),
    (3, "a third document with its own distinct and unique set of words here"),
]
B2 = [
    (10, "the quick brown fox jumps over the lazy cat near the river bank"),
    (11, "yet another novel document mentioning bloom filters and manifests"),
]
B3 = [
    (20, "materialized views refresh from the changelog instead of rescanning"),
    (21, "watermarks bound state for late data in structured streaming jobs"),
]
PROBE = [
    # near-dups of docs 1 (seg 1) and 20 (seg 3) + one novel doc
    (30, "the quick brown fox jumps over the lazy dog near the river edge"),
    (31, "materialized views refresh from the changelog instead of rescanning it"),
    (32, "entirely fresh content that matches nothing else in the corpus"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(df):
    return sorted(
        (r["doc_id"], r["dup_of"], round(r["est_jaccard"], 6))
        for r in df.collect()
    )


def _live_files(idx):
    """Parquet files under the live pointer's segments — what probes read."""
    n = 0
    for s in idx._meta()["segments"]:
        for _root, _d, files in os.walk(os.path.join(idx.path, s)):
            n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def test_neardup_compact_preserves_probe_results(spark, tmpdir_path):
    """Compaction is a pure file merge: find_dups over the compacted index
    returns byte-identical pairs, n_docs is preserved, and the probed file
    count collapses; the absorbed dirs are swept by the next commit."""
    p = os.path.join(tmpdir_path, "ndi")
    idx = NearDupIndex(p)
    for rows in (BASE, B2, B3):
        idx.add(spark, _df(spark, rows))
    assert len(idx._meta()["segments"]) == 3
    before = _pairs(idx.find_dups(spark, _df(spark, PROBE)))
    assert {d for d, _, _ in before} >= {30, 31}  # probes hit the corpus
    n_docs, files0 = idx.n_docs, _live_files(idx)
    absorbed = list(idx._meta()["segments"])

    out = idx.compact(spark, keep_last=0)
    assert out is not None and out["absorbed"] == 3 and out["segments"] == 1
    assert idx.n_docs == n_docs
    assert _pairs(idx.find_dups(spark, _df(spark, PROBE))) == before
    assert _live_files(idx) < files0
    # re-compacting a single segment is a no-op (below min_segments)
    assert idx.compact(spark, keep_last=0) is None
    idx.add(spark, _df(spark, [(99, "one more document admitted after compaction")]))
    assert not any(os.path.exists(os.path.join(p, s)) for s in absorbed)


def test_gate_idempotence_survives_compaction(spark, tmpdir_path):
    """The deterministic segment-name ledger survives absorption: a
    redelivered trigger whose segment was compacted away still no-ops its
    write; the NEWEST segment is never absorbed (keep_last=1), so the
    crash-redelivery case (index committed, table commit lost) computes
    the identical drop set after a compaction ran elsewhere."""
    idx = NearDupIndex(os.path.join(tmpdir_path, "ndg"))
    idx.gate_and_admit(spark, _df(spark, BASE), "t1").count()
    idx.gate_and_admit(spark, _df(spark, B2), "t2").count()
    t3_before = _pairs_gate(idx.gate_and_admit(spark, _df(spark, B3), "t3"))
    n_docs = idx.n_docs

    out = idx.compact(spark)  # keep_last=1 default: seg-t3 kept by name
    assert out is not None and out["absorbed"] == 2
    m = idx._meta()
    assert "seg-t3" in m["segments"] and "seg-t1" in m["absorbed"]

    # absorbed-name redelivery: no new segment, no doc-count drift
    idx.gate_and_admit(spark, _df(spark, BASE), "t1").count()
    assert idx.n_docs == n_docs
    assert len(idx._meta()["segments"]) == len(m["segments"])

    # newest-segment redelivery (the crash case): identical drop set
    t3_after = _pairs_gate(idx.gate_and_admit(spark, _df(spark, B3), "t3"))
    assert t3_after == t3_before

    # new trigger still probes the COMPACTED corpus: near-dup of seg-1
    # content is flagged against it
    dups = idx.gate_and_admit(
        spark, _df(spark, [(40, BASE[0][1] + " x")]), "t4"
    ).collect()
    assert any(r["dup_of"] == 1 and r["dup_src"] == "index" for r in dups)


def _pairs_gate(df):
    return sorted(
        (r["doc_id"], r["dup_of"], r["dup_src"]) for r in df.collect()
    )


SF = "/root/testdata/sf0.001"


def test_ivf_compact_preserves_topk(spark, tmpdir_path):
    """IVF compaction merges per-trigger segments into one file per cell;
    top-k results are identical, plan_cells shrinks to O(cells), and an
    absorbed seg_name still no-ops add()."""
    from etl_spark.ops.ivfserve import IvfIndex

    e = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    idx = IvfIndex(os.path.join(tmpdir_path, "ivf"))
    idx.train(spark, e)
    for k in range(3):
        idx.add(spark, e.filter(F.col("vec_id") % 3 == k), seg_name=f"s{k}")
    probes = e.filter(F.col("vec_id").isin(8, 9))
    before = sorted(
        (r["q_id"], r["cand_id"], r["rank"], round(r["cos"], 9))
        for r in idx.topk(spark, probes, k=3, n_probe=2).collect()
    )
    n_vecs = idx.n_vecs
    cells_per_probe_before = len(idx.plan_cells([0]))

    out = idx.compact(spark)
    assert out is not None and out["absorbed"] == 3 and out["segments"] == 1
    assert out["files_after"] < out["files_before"]
    assert idx.n_vecs == n_vecs
    after = sorted(
        (r["q_id"], r["cand_id"], r["rank"], round(r["cos"], 9))
        for r in idx.topk(spark, probes, k=3, n_probe=2).collect()
    )
    assert after == before
    # driver-side listing is now O(1) per cell, not O(segments)
    assert len(idx.plan_cells([0])) <= cells_per_probe_before
    assert len(idx.plan_cells([0])) == 1
    # absorbed-name idempotence
    assert idx.add(spark, e.filter(F.col("vec_id") % 3 == 0), seg_name="s0") == 0
    assert idx.n_vecs == n_vecs


def test_stream_gate_compaction_bounds_segments(spark, tmpdir_path):
    """A gated stream with neardup_compact_every keeps the index's live
    segment list bounded while producing the exact same table state as an
    uncompacted twin."""
    from etl_spark.cdc.stream import run_stream
    from etl_spark.lake.table import LakeTable
    from etl_spark.schema import CHANGE_SCHEMA, TRANSCRIPT_SCHEMA

    def _row(seq, cid, text):
        return (
            "I",
            dt.datetime(2024, 1, 1) + dt.timedelta(seconds=seq),
            seq, cid, 0, "user", text, None, "f",
        )

    feed = os.path.join(tmpdir_path, "feed")
    texts = [r[1] for r in BASE + B2 + B3]
    for k in range(6):
        spark.createDataFrame(
            [_row(k, f"c{k}", texts[k])], CHANGE_SCHEMA
        ).coalesce(1).write.parquet(os.path.join(feed, f"seg{k:03d}"))

    outs = {}
    for label, every in (("on", 2), ("off", None)):
        t = LakeTable.create(
            os.path.join(tmpdir_path, f"lake_{label}"),
            TRANSCRIPT_SCHEMA, n_buckets=2,
        )
        ip = os.path.join(tmpdir_path, f"idx_{label}")
        run_stream(
            spark, t, feed, os.path.join(tmpdir_path, f"ck_{label}"),
            max_files_per_trigger=1, mode="mor",
            neardup_index_path=ip, neardup_compact_every=every,
        )
        outs[label] = sorted(
            (r["conv_id"], r["turn_idx"], r["text"])
            for r in t.read(spark).collect()
        )
        n_segs = len(NearDupIndex(ip)._meta()["segments"])
        if every:
            assert n_segs <= 4, n_segs  # bounded: compacted every 2 triggers
        else:
            assert n_segs == 6  # one per trigger without maintenance
    assert outs["on"] == outs["off"]


def test_absorbed_ledger_spills_and_membership_survives(spark, tmpdir_path, monkeypatch):
    """The absorbed-name ledger must stay bounded in the pointer (inline
    tail + immutable cumulative spill) while preserving redelivery
    no-ops for names absorbed many compactions ago."""
    import json

    from etl_spark.lake import segstore

    monkeypatch.setattr(segstore, "ABSORBED_INLINE_MAX", 3)
    p = os.path.join(tmpdir_path, "nds")
    idx = NearDupIndex(p)
    rows = [[(100 * k + i, f"{t} spill round {k}") for i, t in
             enumerate(x[1] for x in BASE)] for k in range(4)]
    for k in range(4):
        idx.gate_and_admit(spark, _df(spark, rows[k]), f"s{k}").count()
        if k in (1, 3):
            idx.compact(spark, min_segments=1, keep_last=1)
    m = idx._meta()
    assert len(m.get("absorbed", [])) <= 3  # tail bounded
    assert m.get("absorbed_spill")  # spilled at least once
    spill = json.load(open(os.path.join(p, m["absorbed_spill"])))
    assert "seg-s0" in spill or "seg-s0" in m.get("absorbed", [])
    # redelivery of the earliest absorbed name still no-ops the write
    n_docs = idx.n_docs
    idx.gate_and_admit(spark, _df(spark, rows[0]), "s0").count()
    assert idx.n_docs == n_docs


def test_compact_merge_schema_keeps_th_column(spark, tmpdir_path):
    """A mixed-era index (th-less legacy segment + th-carrying gate
    segment) must keep the th column through compaction — an arbitrary
    footer winning would silently disable the exact-dedup layer."""
    import pyarrow.parquet as pq

    p = os.path.join(tmpdir_path, "ndm")
    idx = NearDupIndex(p)
    idx.add(spark, _df(spark, BASE))       # th-carrying segment
    seg0 = idx._meta()["segments"][0]
    # strip th from the first segment's sig files (simulated legacy era)
    sig_dir = os.path.join(p, seg0, "sig")
    for fn in os.listdir(sig_dir):
        if fn.endswith(".parquet"):
            tbl = pq.read_table(os.path.join(sig_dir, fn))
            if "th" in tbl.column_names:
                pq.write_table(tbl.drop(["th"]), os.path.join(sig_dir, fn))
        if fn.startswith("."):  # stale Hadoop checksum sidecars
            os.remove(os.path.join(sig_dir, fn))
    idx.add(spark, _df(spark, B2))         # modern th-carrying segment
    out = idx.compact(spark, keep_last=0)
    assert out is not None and out["segments"] == 1
    comp = idx._meta()["segments"][0]
    cols = spark.read.parquet(os.path.join(p, comp, "sig")).columns
    assert "th" in cols
