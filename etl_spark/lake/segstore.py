"""Pointer-swapped segment store — the one durability primitive behind
the near-dup indexes (cdc/neardup.py), the IVF serving index
(ops/ivfserve.py), the materialized views (lake/mv.py) and the folded
progress table (cdc/stream.py).

Layout::

    <path>/CURRENT             JSON pointer: {"segments": [...]} or
                               {"data": "<dir>"}, plus per-store fields,
                               "retired": [...] and, once compaction has
                               run, "absorbed" / "absorbed_spill"
    <path>/<segment dirs>      immutable, named by the store's pattern
    <path>/ABSORBED-*.json     immutable cumulative absorbed-name spills

Every store-generated entry becomes visible only through the atomic
pointer swap (``commit``), so a crashed write is invisible. Garbage
collection is deferred by one pointer generation, Delta Lake's vacuum
rule: each commit records the names it superseded as ``retired`` and then
sweeps every store-generated name that the new pointer references neither
as live data, nor as its spill, nor as retired. A reader that loaded the
previous pointer can therefore still read after one commit; its entries
go at the next. The same sweep removes crashed writes (entries no pointer
ever referenced) and anything a crash between swap and sweep left behind.
Foreign files never match a store pattern and are never touched.

Single writer per store path; readers may hold any pointer they loaded
at most one commit ago.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from etl_spark.lake.table import _atomic_write

_PTR = "CURRENT"

#: absorbed-name ledger: inline tail size before spilling to an immutable
#: cumulative file (the table's ledger-snapshot pattern applied to the
#: store pointer) — keeps the per-trigger pointer parse O(live + tail)
#: under unbounded uptime instead of O(all names ever absorbed)
ABSORBED_INLINE_MAX = 256

#: names the store writes besides segments: spills, and the temp files an
#: interrupted ``_atomic_write`` of the pointer or a spill leaves behind
_OWN_FILES = re.compile(
    r"ABSORBED-[0-9a-f]+\.json|(CURRENT|ABSORBED-[0-9a-f]+\.json)\.tmp\.[0-9a-f]+"
)

#: store path -> (spill file name, its names): only the CURRENT spill per
#: store is cached — spills are immutable, so a cached set never goes
#: stale, and superseded generations are dropped instead of accumulating
_SPILLS: dict[str, tuple[str, frozenset]] = {}


def parquet_files(root: str) -> list[str]:
    """Every parquet file under ``root`` (segment dirs may be partitioned)."""
    return [
        os.path.join(d, f)
        for d, _sub, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    ]


def parquet_rows(root: str) -> int:
    """Row count from the parquet footers under ``root`` — driver-side
    metadata, no Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in parquet_files(root))


class SegmentStore:
    """One pointer-swapped store directory; see the module docstring.

    ``names`` is a regex matching the segment/data DIRECTORY names this
    store's owner generates — the sweep deletes no other directory, and
    no file but spills and interrupted pointer/spill writes."""

    def __init__(self, path: str, names: str):
        self.path = path
        self._names = re.compile(names)

    def _abs(self, name: str) -> str:
        return os.path.join(self.path, name)

    def new_name(self, prefix: str) -> str:
        return f"{prefix}-{uuid.uuid4().hex[:12]}"

    # ------------------------------------------------------------ pointer
    def meta(self, default: dict | None = None) -> dict | None:
        """The live pointer, or ``default`` when nothing was committed."""
        try:
            with open(self._abs(_PTR)) as f:
                return json.load(f)
        except FileNotFoundError:
            return default

    def commit(self, m: dict, retired: list | tuple = ()) -> None:
        """Atomically swap the pointer to ``m``, recording ``retired`` (the
        names this commit supersedes), then sweep."""
        m["retired"] = list(retired)
        os.makedirs(self.path, exist_ok=True)
        _atomic_write(self._abs(_PTR), json.dumps(m))
        keep = set(m.get("segments", [])) | set(m["retired"])
        keep |= {m.get("data"), m.get("absorbed_spill")}
        for name in os.listdir(self.path):
            if name in keep:
                continue
            p = self._abs(name)
            if os.path.isdir(p):
                if self._names.fullmatch(name):
                    shutil.rmtree(p, ignore_errors=True)
            elif _OWN_FILES.fullmatch(name):
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass

    # ---------------------------------------------------------- segments
    def has(self, m: dict, seg: str) -> bool:
        """Name-ledger membership: live segments PLUS names absorbed by
        compaction — a redelivered write whose segment was since compacted
        must still no-op. O(live + tail) per call; the spill set is loaded
        once per spill generation."""
        return (
            seg in m["segments"]
            or seg in m.get("absorbed", [])
            or seg in self._spill(m.get("absorbed_spill"))
        )

    def append(self, m: dict, seg: str, write, count_key: str) -> int:
        """Write segment ``seg`` via ``write(seg_dir) -> n_rows`` and commit
        it onto pointer ``m`` (the live one, or the owner's empty default),
        adding ``n_rows`` to ``m[count_key]``. Idempotent: a name already
        in the ledger (live or absorbed) skips the write and returns 0."""
        if self.has(m, seg):
            return 0
        n = write(self._abs(seg))
        m["segments"].append(seg)
        m[count_key] += n
        self.commit(m)
        return n

    def replace(self, df, prefix: str, **fields) -> int:
        """Write ``df`` as a fresh ``<prefix>-*`` data dir and swap the
        pointer to it (``{**fields, "data", "n_rows"}``), retiring the
        previous data dir. Returns the rows written (footer count)."""
        name = self.new_name(prefix)
        df.write.mode("overwrite").parquet(self._abs(name))
        n = parquet_rows(self._abs(name))
        old = (self.meta() or {}).get("data")
        self.commit({**fields, "data": name, "n_rows": n}, [old] if old else [])
        return n

    # ------------------------------------------------------ absorbed ledger
    def _spill(self, fname: str | None) -> frozenset:
        if not fname:
            return frozenset()
        got = _SPILLS.get(self.path)
        if got is None or got[0] != fname:
            try:
                with open(self._abs(fname)) as f:
                    got = (fname, frozenset(json.load(f)))
            except OSError as e:
                # reading a lost spill as "nothing absorbed" would re-admit
                # redelivered absorbed segments and double-count their rows
                raise OSError(
                    f"{self.path}: absorbed-name spill {fname} named by the "
                    f"pointer is unreadable"
                ) from e
            _SPILLS[self.path] = got
        return got[1]

    def _absorb(self, m: dict, names: list[str]) -> str | None:
        """Fold ``names`` into m's absorbed ledger IN PLACE: tail-append,
        spilling tail ∪ spill to a fresh immutable file once the tail
        outgrows ``ABSORBED_INLINE_MAX``. Returns the superseded spill name
        (None when no spill happened) for the caller to retire."""
        tail = list(dict.fromkeys(m.get("absorbed", []) + names))
        if len(tail) <= ABSORBED_INLINE_MAX:
            m["absorbed"] = tail
            return None
        old = m.get("absorbed_spill")
        merged = sorted(self._spill(old) | set(tail))
        fname = f"ABSORBED-{uuid.uuid4().hex[:12]}.json"
        _atomic_write(self._abs(fname), json.dumps(merged))
        _SPILLS[self.path] = (fname, frozenset(merged))
        m["absorbed"] = []
        m["absorbed_spill"] = fname
        return old

    # -------------------------------------------------------- compaction
    def compact(self, rewrite, keep_last: int, min_segments: int) -> dict | None:
        """Merge all live segments except the newest ``keep_last`` into one
        ``compact-*`` segment written by ``rewrite(src_dirs, out_dir)``,
        then swap: the absorbed names join the ledger and are retired with
        any superseded spill. Returns {"absorbed", "segments",
        "files_before", "files_after"}, or None when fewer than
        ``min_segments`` segments are absorbable."""
        m = self.meta()
        live = m["segments"] if m else []
        absorbable = live[: max(0, len(live) - keep_last)]
        if len(absorbable) < min_segments:
            return None
        comp = self.new_name("compact")
        src = [self._abs(s) for s in absorbable]
        files_before = sum(len(parquet_files(d)) for d in src)
        rewrite(src, self._abs(comp))
        retired = list(absorbable)
        old_spill = self._absorb(m, absorbable)
        if old_spill:
            retired.append(old_spill)
        m["segments"] = [comp] + live[len(absorbable):]
        self.commit(m, retired)
        return {
            "absorbed": len(absorbable),
            "segments": len(m["segments"]),
            "files_before": files_before,
            "files_after": len(parquet_files(self._abs(comp))),
        }
