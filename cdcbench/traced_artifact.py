"""Write the committed traced-run artifacts.

    python3 cdcbench/traced_artifact.py SEED

For every workload, runs the same seed untraced and traced in three
pairs of alternating order (untraced first, then traced first, then
untraced first again), so a host that speeds up or slows down during the
pairs does not favour one mode. Writes
``cdcbench/results/traced-<workload>.json`` with every per-layer figure
and the spans of the last traced run, the host weather of every run, and
the tracing overhead: per end-to-end metric, the traced-minus-untraced
difference of each pair as a share of its untraced value, with their
median, minimum and maximum.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PAIR_ORDERS = ((0, 1), (1, 0), (0, 1))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(ROOT, ".bench_out", f"{workload}-s{seed}-t{trace}.json")) as f:
        return json.load(f)


def overhead(pairs: list[tuple[dict, dict]]) -> dict:
    out = {}
    for k in pairs[0][0]["end_to_end"]:
        plain = [p["end_to_end"][k] for p, _ in pairs]
        traced = [t["end_to_end"][k] for _, t in pairs]
        fracs = [(t - p) / p for p, t in zip(plain, traced)]
        out[k] = {
            "untraced": plain,
            "traced": traced,
            "diff_frac": fracs,
            "diff_frac_median": statistics.median(fracs),
            "diff_frac_min": min(fracs),
            "diff_frac_max": max(fracs),
        }
    return out


def main() -> int:
    seed = int(sys.argv[1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for w in bench["workloads"]:
        pairs = []
        for order in PAIR_ORDERS:
            recs = {trace: run(w["name"], seed, seconds, trace) for trace in order}
            pairs.append((recs[0], recs[1]))
        traced = pairs[-1][1]
        art = {
            "workload": w["name"],
            "seed": seed,
            "seconds": seconds,
            "pair_orders": ["untraced first" if o[0] == 0 else "traced first" for o in PAIR_ORDERS],
            "inputs": traced["inputs"],
            "per_layer": traced["per_layer"],
            "tracing_overhead": overhead(pairs),
            "host": [{"untraced": p["host"], "traced": t["host"]} for p, t in pairs],
            "checks": traced["checks"],
            "samples": {"untraced": pairs[-1][0]["samples"], "traced": traced["samples"]},
            "spans": traced["spans"],
        }
        path = os.path.join(HERE, "results", f"traced-{w['name']}.json")
        with open(path, "w") as f:
            json.dump(art, f, indent=1)
        print(path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
