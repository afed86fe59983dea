"""Spark-free tests of the streaming trigger core's ledger arithmetic
(cdc/stream._trigger_bookkeeping): which input files are new, which
segments complete, and the immutability refusal — with plain dicts and
sets as ledger snapshots over a temp feed dir, no Spark session."""

from __future__ import annotations

import os
import random
from urllib.parse import unquote

import pytest

from etl_spark.cdc.apply import (
    SegmentReuseError,
    _segment_relative,
    batch_fingerprint,
    segment_listing,
)
from etl_spark.cdc.stream import _trigger_bookkeeping


class _Certified:
    """Table stand-in for the immutability check's legacy probe (consulted
    only on a fingerprint mismatch): every ledger entry is a certified
    listing fingerprint, so a mismatch refuses definitively."""

    def __init__(self, segs: dict[str, str]):
        self._segs = segs

    def listing_segments(self) -> set[str]:
        return set(self._segs)

    def full_commits(self) -> dict:
        return {}


def _ledger(segs=None, inputs=None):
    segs = dict(segs or {})
    return (_Certified(segs), segs, set(inputs or ()))


def _feed(root, layout: dict[str, list[str]]) -> str:
    feed = os.path.join(root, "feed")
    for seg, names in layout.items():
        os.makedirs(os.path.join(feed, seg), exist_ok=True)
        for n in names:
            open(os.path.join(feed, seg, n), "wb").close()
    return feed


def _uris(feed, rels):
    return [f"file://{feed}/{r}" for r in rels]


def _fp(*rels):
    return batch_fingerprint(sorted(rels))


def test_file_applied_in_one_ledger_only_is_still_new(tmp_path):
    feed = _feed(tmp_path, {"s": ["a.parquet", "b.parquet"]})
    files = _uris(feed, ["s/a.parquet"])
    a = _ledger(inputs={"s/a.parquet"})
    bid, rel_new, rel_applied, complete = _trigger_bookkeeping(
        feed, files, [a, _ledger()]
    )
    assert rel_new == ["s/a.parquet"] and rel_applied == []
    assert bid == _fp("s/a.parquet") and complete == {}
    # held by every ledger: nothing new
    assert _trigger_bookkeeping(feed, files, [a, _ledger(inputs={"s/a.parquet"})]) is None


def test_segment_completes_only_when_every_ledger_holds_it(tmp_path):
    feed = _feed(tmp_path, {"s": ["a.parquet", "b.parquet"]})
    files = _uris(feed, ["s/b.parquet"])
    full = {"s": _fp("s/a.parquet", "s/b.parquet")}
    # A holds s/a, B holds nothing: B would still miss s/a after this trigger
    _, _, _, complete = _trigger_bookkeeping(
        feed, files, [_ledger(inputs={"s/a.parquet"}), _ledger()]
    )
    assert complete == {}
    # both hold s/a: s/b completes the segment everywhere
    _, _, _, complete = _trigger_bookkeeping(
        feed, files,
        [_ledger(inputs={"s/a.parquet"}), _ledger(inputs={"s/a.parquet"})],
    )
    assert complete == full
    # crash between A's commit and B's: A completed s (its per-file
    # entries pruned), B holds only s/a — the redelivered trigger is new
    # for B alone and must still complete the segment there
    bid, rel_new, rel_applied, complete = _trigger_bookkeeping(
        feed, _uris(feed, ["s/a.parquet", "s/b.parquet"]),
        [_ledger(segs=full), _ledger(inputs={"s/a.parquet"})],
    )
    assert rel_new == ["s/b.parquet"] and rel_applied == ["s/a.parquet"]
    assert bid == _fp("s/b.parquet") and complete == full


def _single_table_rule(feed_dir, files, done_segs, done_inputs):
    """Reference: run_stream's single-table rule, written out on its own
    — the shared core with one ledger must compute exactly this."""

    def seg(f):
        return _segment_relative(f).split("/")[0]

    def applied(f):
        return seg(f) in done_segs or _segment_relative(f) in done_inputs

    new_files = sorted(f for f in files if not applied(f))
    if not new_files:
        return None
    rel_new = [_segment_relative(f) for f in new_files]
    applied_decoded = {unquote(x) for x in done_inputs | set(rel_new)}
    complete_segs = {}
    for sname in sorted({seg(f) for f in new_files}):
        allf = segment_listing(feed_dir, sname)
        if allf and allf <= applied_decoded:
            complete_segs[sname] = batch_fingerprint(sorted(allf))
    new_set = set(new_files)
    rel_applied = [_segment_relative(f) for f in files if f not in new_set]
    return batch_fingerprint(new_files), rel_new, rel_applied, complete_segs


def test_one_ledger_equals_the_single_table_rule(tmp_path):
    layout = {
        f"batch={i:05d}": [f"part-{j}.parquet" for j in range(1 + i % 3)]
        for i in range(4)
    }
    layout["batch=00004"] = ["a%2Bb.parquet", "c d.parquet"]
    feed = _feed(tmp_path, layout)
    rels = [f"{s}/{n}" for s, ns in layout.items() for n in ns]
    rng = random.Random(7)
    completions = 0
    for _ in range(200):
        segs, inputs = {}, set()
        for s, ns in layout.items():
            roll = rng.random()
            if roll < 0.25:  # completed: ledgered by fingerprint, files pruned
                segs[s] = _fp(*(f"{s}/{n}" for n in ns))
            elif roll < 0.6:
                inputs |= {f"{s}/{n}" for n in ns if rng.random() < 0.5}
        files = _uris(feed, rng.sample(rels, rng.randint(0, len(rels))))
        got = _trigger_bookkeeping(feed, files, [_ledger(segs, inputs)])
        assert got == _single_table_rule(feed, files, segs, inputs)
        completions += bool(got and got[3])
    assert completions  # the draws exercise segment completion


def test_file_landing_in_completed_segment_raises(tmp_path):
    feed = _feed(tmp_path, {"s": ["a.parquet", "b.parquet"]})
    done = _ledger(segs={"s": _fp("s/a.parquet", "s/b.parquet")})
    assert _trigger_bookkeeping(feed, _uris(feed, ["s/a.parquet"]), [done]) is None
    open(os.path.join(feed, "s", "late.parquet"), "wb").close()
    with pytest.raises(SegmentReuseError, match="completion fingerprint"):
        _trigger_bookkeeping(feed, _uris(feed, ["s/late.parquet"]), [done])
