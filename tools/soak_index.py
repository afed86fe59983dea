#!/usr/bin/env python
"""Persisted-index soak: N gate triggers (one index segment each) with
periodic compaction — the round-5 done-criterion for the compaction verb:
probe wall and files-per-probe must stay FLAT as trigger count grows,
where the uncompacted index degrades O(triggers).

Drives the indexes directly (gate_and_admit / add+topk per trigger, the
exact per-trigger work the streaming loop delegates) rather than the full
streaming machinery, so 1k+ triggers fit in minutes; the streaming-level
composition is covered by tests/test_index_compaction.py.

Usage:
  python tools/soak_index.py --triggers 1000 --compact-every 64 \
      [--no-compact] [--out SOAK_INDEX.json]

Emits one JSON line (and writes --out): per-decile median gate wall,
live-segment count and probe-file count over time, compaction walls, the
index directory's on-disk bytes and dir count right after each
compaction (live segments plus the one retired generation the store
keeps until its next commit), and the flatness verdict (last-decile
wall / steady-state wall).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORDS = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lam", "mu", "nu", "xi", "omicron", "pi", "rho",
    "sigma", "tau", "upsilon", "phi", "chi", "psi", "omega",
]


def _doc(trigger: int, i: int) -> str:
    """Deterministic, mostly-novel text: 12 words keyed off (trigger, i);
    every 7th doc is a near-dup of an earlier trigger's doc (one word
    changed) so the gate has real corpus hits to find."""
    base = trigger if (trigger * 4 + i) % 7 else max(0, trigger - 13)
    seed = base * 1009 + i * 101
    toks = [WORDS[(seed + j * 31) % len(WORDS)] + str((seed + j) % 97)
            for j in range(12)]
    if base != trigger:
        toks[-1] = "mutated" + str(trigger % 89)
    return " ".join(toks)


def _probe_files(idx) -> int:
    """Parquet files a probe plan reads: everything under live segments."""
    n = 0
    for s in idx._meta()["segments"]:
        for _root, _d, files in os.walk(os.path.join(idx.path, s)):
            n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _disk(path: str) -> dict:
    """On-disk footprint of the index directory: bytes and top-level dirs."""
    nbytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _sub, files in os.walk(path)
        for f in files
    )
    ndirs = sum(os.path.isdir(os.path.join(path, e)) for e in os.listdir(path))
    return {"bytes": nbytes, "dirs": ndirs}


def _med(xs):
    xs = sorted(xs)
    return xs[len(xs) // 2] if xs else 0.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--triggers", type=int, default=1000)
    ap.add_argument("--batch-docs", type=int, default=4)
    ap.add_argument("--compact-every", type=int, default=64)
    ap.add_argument("--no-compact", action="store_true")
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from etl_spark.cdc.neardup import NearDupIndex
    from etl_spark.session import get_spark

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="etl_spark_soak_", dir=base)
    spark = get_spark(
        cores=args.cores, app_name="etl_spark_soak",
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.ui.showConsoleProgress": "false",
            # soak batches are tiny; the default 32 shuffle partitions
            # would schedule 8x more empty tasks per trigger
            "spark.sql.shuffle.partitions": str(args.cores),
        },
    )
    idx = NearDupIndex(os.path.join(work, "ndi"), n_minhash=16, hash_fn="xxh64")
    walls: list[float] = []
    compact_walls: list[float] = []
    compact_disk: list[dict] = []
    track: list[dict] = []
    dups_total = 0
    t_all = time.time()
    try:
        for k in range(args.triggers):
            docs = spark.createDataFrame(
                [(k * 1000 + i, _doc(k, i)) for i in range(args.batch_docs)],
                "doc_id long, text string",
            )
            t0 = time.time()
            dups_total += idx.gate_and_admit(spark, docs, f"t{k:05d}").count()
            walls.append(time.time() - t0)
            if not args.no_compact and (k + 1) % args.compact_every == 0:
                t0 = time.time()
                idx.compact(spark)
                compact_walls.append(time.time() - t0)
                compact_disk.append({"trigger": k + 1, **_disk(idx.path)})
            if (k + 1) % max(1, args.triggers // 20) == 0:
                track.append(
                    {
                        "trigger": k + 1,
                        "live_segments": len(idx._meta()["segments"]),
                        "probe_files": _probe_files(idx),
                        "med_wall_window": round(
                            _med(walls[-max(1, args.triggers // 20):]), 3
                        ),
                    }
                )
        deciles = [
            round(_med(walls[d * len(walls) // 10:(d + 1) * len(walls) // 10]), 3)
            for d in range(10)
        ]
        # steady state = deciles 2-5 (past JIT/codegen warmup); flatness =
        # last decile vs that steady median
        steady = _med([w for d in range(2, 6)
                       for w in walls[d * len(walls) // 10:(d + 1) * len(walls) // 10]])
        out = {
            "metric": "neardup_gate_soak",
            "triggers": args.triggers,
            "batch_docs": args.batch_docs,
            "compact_every": None if args.no_compact else args.compact_every,
            "dup_pairs_found": dups_total,
            "n_docs": idx.n_docs,
            "decile_med_wall_sec": deciles,
            "steady_med_wall_sec": round(steady, 3),
            "last_decile_over_steady": round(deciles[-1] / max(steady, 1e-9), 3),
            "compact_walls_sec": [round(w, 2) for w in compact_walls],
            "compact_disk": compact_disk,
            "disk_final": _disk(idx.path),
            "live_segments_final": len(idx._meta()["segments"]),
            "absorbed_final": len(idx._meta().get("absorbed", [])),
            "probe_files_final": _probe_files(idx),
            "track": track,
            "total_sec": round(time.time() - t_all, 1),
        }
        line = json.dumps(out)
        print(line)
        if args.out:
            with open(args.out, "w") as f:
                json.dump(out, f, indent=1)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
