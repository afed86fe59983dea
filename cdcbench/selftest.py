"""Self-test of the benchmark at tiny scale.

    python3 cdcbench/selftest.py

Run from the repository root. Checks that

1. the correctness gate passes on the oracle's own state and trips on a
   changed, missing or extra row, for the table and MV checks;
2. a table corrupted through the engine (a change applied that the
   delivered feed does not hold) trips the table check;
3. every workload emits every metric that ``BENCHMARK.json`` names, with
   its unit, in both modes, and end-to-end values are never 0.

Exits 0 when all pass.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402

import check  # noqa: E402
from feedgen import Feed, FeedSpec  # noqa: E402

TINY = FeedSpec(
    n_segments=3, events_per_segment=300, n_convs=50, max_turns=6, zipf_s=1.1,
    op_shares=(0.4, 0.45, 0.15), dup_ratio=0.05, ooo_ratio=0.1, files_per_segment=1,
)


def _oracle_state(feed_dir: str):
    """The oracle's rows in the table's shape (ts as a timestamp)."""
    return duckdb.sql(
        f"SELECT conv_id, turn_idx, role, text, tool, make_timestamp(ts) AS ts"
        f" FROM ({check.oracle_sql(feed_dir)})"
    ).arrow()


def _summary(state):
    return duckdb.sql(
        "SELECT conv_id, count(*) AS n_turns, count(tool) AS n_tool_turns,"
        " max(ts) AS last_ts, sum(length(text)) AS total_chars FROM state GROUP BY conv_id"
    ).arrow()


def _corruptions(state):
    """The state with one text changed, one row dropped, one row doubled."""
    text = state.column("text").to_pylist()
    text[0] = (text[0] or "") + " (corrupted)"
    i = state.schema.get_field_index("text")
    return {
        "changed": state.set_column(i, "text", pa.array(text, pa.string())),
        "missing": state.slice(1),
        "extra": pa.concat_tables([state, state.slice(0, 1)]),
    }


def test_gate(work: str) -> None:
    feed = Feed(TINY, seed=7)
    feed_dir = f"{work}/feed"
    feed.write(feed_dir)
    state = _oracle_state(feed_dir)
    assert check.table_vs_oracle(state, feed_dir)["ok"]
    assert check.mv_vs_oracle(_summary(state), feed_dir)["ok"]
    for how, bad in _corruptions(state).items():
        assert not check.table_vs_oracle(bad, feed_dir)["ok"], how
        assert not check.mv_vs_oracle(_summary(bad), feed_dir)["ok"], how
    print("ok  gate trips on changed, missing and extra rows")


def test_corrupted_table(work: str) -> None:
    import run

    sys.path.insert(0, ROOT)
    from etl_spark.cdc.apply import replay_feed
    from etl_spark.lake.table import LakeTable
    from etl_spark.schema import TRANSCRIPT_SCHEMA

    feed = Feed(TINY, seed=8)
    feed_dir, rogue_dir = f"{work}/feed", f"{work}/rogue"
    feed.write(feed_dir)
    # a later change to an existing key that was never delivered in the feed
    rogue = Feed(TINY, seed=9)
    rogue.write(rogue_dir)
    for d in sorted(os.listdir(rogue_dir)):
        os.rename(f"{rogue_dir}/{d}", f"{rogue_dir}/x{d}")
    spark = run.start_session(f"{work}/session")
    try:
        table = LakeTable.create(f"{work}/table", TRANSCRIPT_SCHEMA, n_buckets=4)
        replay_feed(spark, table, feed_dir, mode="mor")
        assert check.table_vs_oracle(table.read(spark).toArrow(), feed_dir)["ok"]
        replay_feed(spark, table, rogue_dir, mode="mor")
        got = check.table_vs_oracle(table.read(spark).toArrow(), feed_dir)
        assert not got["ok"], got
    finally:
        run.stop_session(spark)
    print("ok  a table holding an undelivered change fails the gate")


def test_metrics_emitted() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*bench["command"], "--workload", w["name"], "--seed", "3",
                   "--seconds", "1", "--trace", str(trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            assert p.returncode == 0, p.stderr[-2000:]
            res = json.loads(p.stdout.strip().splitlines()[-1])
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (w["name"], trace, got, want)
            if key == "end_to_end":
                assert all(v["value"] > 0 for v in res["metrics"].values()), res
            print(f"ok  {w['name']} --trace {trace}: {len(got)} metrics with units")


def main() -> int:
    work = os.path.join(ROOT, ".bench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    try:
        for i, t in enumerate((test_gate, test_corrupted_table)):
            os.makedirs(f"{work}/{i}")
            t(f"{work}/{i}")
        test_metrics_emitted()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
