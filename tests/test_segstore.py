"""Crash points of the pointer-swapped segment store (lake/segstore.py),
Spark-free: plain temp dirs and a pyarrow stand-in for the few DataFrame
calls the store's owners make, so each case runs in milliseconds.

GC is deferred by one pointer generation: what a commit supersedes stays
on disk until the next commit, so a reader of the previous pointer keeps
working, and nothing the store generated outlives two commits unless the
live pointer references it."""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_spark.lake import segstore
from etl_spark.lake.segstore import SegmentStore, parquet_files

IDX_NAMES = r"(seg|compact)-.+"


class _Frame:
    """The DataFrame calls the store owners make, over a pyarrow table:
    ``.coalesce(n)``, ``.write.mode(m).parquet(path)``."""

    def __init__(self, table: pa.Table):
        self.table = table
        self.write = self

    def coalesce(self, _n):
        return self

    def mode(self, _m):
        return self

    def parquet(self, out):
        os.makedirs(out, exist_ok=True)
        pq.write_table(self.table, os.path.join(out, "part-00000.parquet"))


class _Spark:
    """``spark.read.option(..).parquet(*dirs)`` → the union of their files."""

    def __init__(self):
        self.read = self

    def option(self, *_a):
        return self

    def parquet(self, *dirs):
        return _Frame(pa.concat_tables(
            pq.read_table(f) for d in dirs for f in sorted(parquet_files(d))
        ))


def _rows(*ids):
    return _Frame(pa.table({"doc_id": list(ids)}))


def _seg(path, name, ids):
    for sub in ("sig", "bands"):
        _rows(*ids).parquet(os.path.join(path, name, sub))


def _leftover(path):
    """Store-generated names on disk that the live pointer references
    neither as live, retired nor spill — what would leak forever."""
    with open(os.path.join(path, "CURRENT")) as f:
        m = json.load(f)
    ref = set(m.get("segments", [])) | set(m.get("retired", []))
    ref |= {m.get("data"), m.get("absorbed_spill")}
    own = ("seg-", "compact-", "ABSORBED-", "v", "fold-")
    return {n for n in os.listdir(path) if n.startswith(own)} - ref


def _append(store, seg, ids=(1,)):
    m = store.meta({"segments": [], "n_docs": 0})
    return store.append(
        m, seg, lambda d: _seg(store.path, seg, ids) or len(ids), "n_docs"
    )


def test_crashed_write_swept_at_next_commit_foreign_kept(tmp_path):
    p = str(tmp_path)
    store = SegmentStore(p, IDX_NAMES)
    _append(store, "seg-a")
    # segment dirs written with no pointer swap (crashed append, crashed
    # compaction), an interrupted pointer write, and foreign entries
    _seg(p, "seg-crashed", [9])
    _seg(p, "compact-deadbeef", [9])
    open(os.path.join(p, "CURRENT.tmp." + "0" * 32), "w").close()
    open(os.path.join(p, "seg-notes.txt"), "w").close()
    open(os.path.join(p, "ABSORBED-notes.txt"), "w").close()
    os.makedirs(os.path.join(p, "backup"))
    _append(store, "seg-b")
    assert sorted(os.listdir(p)) == [
        "ABSORBED-notes.txt", "CURRENT", "backup", "seg-a", "seg-b",
        "seg-notes.txt",
    ]
    assert store.meta()["n_docs"] == 2
    # the name ledger makes a redelivered append a no-op
    assert _append(store, "seg-b") == 0


def _copy_rewrite(src, out):
    _Spark().parquet(*[os.path.join(s, "sig") for s in src]).parquet(
        os.path.join(out, "sig")
    )


def test_compact_defers_gc_by_one_commit(tmp_path):
    p = str(tmp_path)
    store = SegmentStore(p, IDX_NAMES)
    for s in ("seg-a", "seg-b", "seg-c"):
        _append(store, s)
    out = store.compact(_copy_rewrite, keep_last=1, min_segments=2)
    assert out["absorbed"] == 2 and out["segments"] == 2
    m = store.meta()
    assert m["retired"] == ["seg-a", "seg-b"] and m["absorbed"] == ["seg-a", "seg-b"]
    # a reader of the pre-compaction pointer still finds its segments
    assert os.path.isdir(os.path.join(p, "seg-a"))
    assert _append(store, "seg-a") == 0  # absorbed name: still a no-op
    _append(store, "seg-d")
    assert not os.path.exists(os.path.join(p, "seg-a"))
    assert _leftover(p) == set()


def test_keep_last_above_live_clamps(tmp_path):
    store = SegmentStore(str(tmp_path), IDX_NAMES)
    _append(store, "seg-a")
    _append(store, "seg-b")
    before = store.meta()
    # keep_last > live segment count absorbs nothing (no negative-slice
    # wraparound) and leaves the pointer untouched
    assert store.compact(_copy_rewrite, keep_last=3, min_segments=1) is None
    assert store.meta() == before


def test_sweep_keeps_live_spill_and_foreign_files(tmp_path, monkeypatch):
    monkeypatch.setattr(segstore, "ABSORBED_INLINE_MAX", 1)
    p = str(tmp_path)
    store = SegmentStore(p, IDX_NAMES)
    open(os.path.join(p, "OWNER.txt"), "w").close()
    spills = []
    for k in range(6):
        _append(store, f"seg-{k}")
        if k % 2:
            store.compact(_copy_rewrite, keep_last=1, min_segments=1)
            spills.append(store.meta().get("absorbed_spill"))
        m = store.meta()
        if m.get("absorbed_spill"):
            assert os.path.exists(os.path.join(p, m["absorbed_spill"]))
        assert _leftover(p) == set()
    assert len(set(spills) - {None}) >= 2  # spilled, then re-spilled
    assert os.path.exists(os.path.join(p, "OWNER.txt"))
    assert all(store.has(store.meta(), f"seg-{k}") for k in range(6))


def test_missing_spill_fails_loudly_and_cache_keeps_one(tmp_path, monkeypatch):
    monkeypatch.setattr(segstore, "ABSORBED_INLINE_MAX", 1)
    monkeypatch.setattr(segstore, "_SPILLS", {})
    p = str(tmp_path)
    store = SegmentStore(p, IDX_NAMES)
    for k in range(6):
        _append(store, f"seg-{k}")
        store.compact(_copy_rewrite, keep_last=1, min_segments=1)
    assert list(segstore._SPILLS) == [p]  # only the current generation
    assert segstore._SPILLS[p][0] == store.meta()["absorbed_spill"]
    segstore._SPILLS.clear()
    os.remove(os.path.join(p, store.meta()["absorbed_spill"]))
    # "nothing absorbed" would re-admit a redelivered absorbed segment
    with pytest.raises(OSError, match="unreadable"):
        store.has(store.meta(), "seg-0")


def test_index_compaction_crash_after_swap_leaks_nothing(tmp_path, monkeypatch):
    """A crash between a compaction's pointer swap and its deletions used
    to leak the superseded ABSORBED-*.json spill forever (the orphan
    sweep matched only seg-/compact- dirs)."""
    from etl_spark.cdc.neardup import NearDupIndex

    p = str(tmp_path)
    for s in ("seg-a", "seg-b", "seg-c"):
        _seg(p, s, [ord(s[-1])])
    old_spill = "ABSORBED-0123456789ab.json"
    with open(os.path.join(p, old_spill), "w") as f:
        json.dump(["seg-old"], f)
    # a full inline tail: this compaction spills and supersedes old_spill
    tail = [f"seg-t{i}" for i in range(256)]
    with open(os.path.join(p, "CURRENT"), "w") as f:
        json.dump({"segments": ["seg-a", "seg-b", "seg-c"], "n_docs": 3,
                   "params": {}, "absorbed": tail,
                   "absorbed_spill": old_spill}, f)
    idx = NearDupIndex(p, n_minhash=16)
    spark = _Spark()
    with monkeypatch.context() as mp:  # process dies after the swap
        mp.setattr(shutil, "rmtree", lambda *a, **k: None)
        mp.setattr(os, "remove", lambda *a, **k: None)
        assert idx.compact(spark, min_segments=1)["absorbed"] == 2
    m = idx._meta()
    assert m["absorbed_spill"] != old_spill and m["n_docs"] == 3
    assert idx.compact(spark, min_segments=1) is not None  # next commit
    assert not os.path.exists(os.path.join(p, old_spill))
    assert _leftover(p) == set()


def _data_dirs_gone_after_two_commits(path, commit, read_pointer):
    commit(1)
    held = read_pointer()  # a reader loads the pointer ...
    commit(2)  # ... a writer swaps it once: the reader still reads
    d = os.path.join(path, held["data"])
    assert pq.read_table(parquet_files(d)[0]).num_rows == 1
    commit(3)  # the second swap retires the reader's snapshot
    assert not os.path.exists(d)
    assert _leftover(path) == set()


def test_mv_reader_of_previous_pointer_survives_one_commit(tmp_path):
    from etl_spark.lake.mv import KeyedMV

    mv = KeyedMV(str(tmp_path))
    _data_dirs_gone_after_two_commits(
        str(tmp_path), lambda v: mv._commit(_rows(v), v), mv._meta
    )
    assert mv.table_version == 3


def test_fold_reader_of_previous_pointer_survives_one_commit(tmp_path, monkeypatch):
    from etl_spark.cdc import stream

    prog = str(tmp_path / "prog")
    out = prog + "_table"
    n = [0]

    def fake_progress(_spark, _path):
        n[0] += 1
        return _rows(n[0])

    monkeypatch.setattr(stream, "progress_df", fake_progress)

    def pointer():
        with open(os.path.join(out, "CURRENT")) as f:
            return json.load(f)

    _data_dirs_gone_after_two_commits(
        out, lambda _v: stream.fold_progress(None, prog), pointer
    )
