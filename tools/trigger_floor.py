"""Per-trigger floor of a streaming drain, split by phase, for one or more
source trees and both local filesystems.

``--shape trickle`` drains 500-event one-file segments with ``run_stream``
into a 16-bucket MOR table (MV every 8 triggers, compaction past 8 files
per bucket; the ``trickle_stream`` benchmark's shape). Each leg is one
(tree, filesystem) pair in a fresh child process: ``stock`` maps file://
to Hadoop's ``LocalFileSystem``/``LocalFs``, ``shim`` to the fork-free
classes of ``etl_spark/jvm`` (whatever the tree's own ``get_spark`` does).
Per timed trigger it records the walls of resolve (``_resolve_trigger``,
plus the checkpoint-log read where the tree has one), plan, the Spark
write job, file stats (footer stats and bloom sidecars: the rest of the
merge's write phase), commit, table compaction, ``addBatch`` and
``triggerExecution``; the Spark jobs per trigger and inside resolve
(status tracker, the query's job group); and the processes the JVM forks,
counted by logging ``chmod``/``ls``/``stat``/``id`` wrappers put first on
its PATH. Host steal is sampled from /proc/stat over each leg. Legs run
in rotated order, round after round, so every leg samples the same host
weather.

``--shape route`` counts Spark jobs per trigger for ``run_stream`` (MOR)
and ``route_stream`` at ``maxFilesPerTrigger=1`` over a 2-segment,
two-table feed (6,000 events, seed 21).

    python tools/trigger_floor.py --tree /path/a --tree /path/b \\
        [--rounds 3] [--segments 15] [--shape trickle] --out floor.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STOCK = {
    "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.LocalFs",
}
WRAPPED = ("chmod", "ls", "stat", "id")
WARM = 3


def _cpu_steal() -> tuple[int, int]:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7]


def _fork_wrappers(d: str, log: str) -> None:
    os.makedirs(d, exist_ok=True)
    for cmd in WRAPPED:
        real = shutil.which(cmd)
        p = os.path.join(d, cmd)
        with open(p, "w") as f:
            f.write(f'#!/bin/sh\necho "{cmd} $*" >> "{log}"\nexec {real} "$@"\n')
        os.chmod(p, 0o755)


def _forks(log: str) -> dict[str, int]:
    out = dict.fromkeys(WRAPPED, 0)
    try:
        with open(log) as f:
            for ln in f:
                out[ln.split(" ", 1)[0]] += 1
    except OSError:
        pass
    return out


def child(tree: str, fs: str, jar: str, shape: str, segments: int, work: str, log: str) -> dict:
    sys.path.insert(0, tree)
    from pyspark.sql import DataFrameWriter
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from etl_spark.cdc import stream
    from etl_spark.cdc.gen import change_feed_df, write_feed
    from etl_spark.lake.table import LakeTable
    from etl_spark.schema import TRANSCRIPT_SCHEMA
    from etl_spark.session import get_spark

    conf = dict(STOCK) if fs == "stock" else {
        "spark.hadoop.fs.file.impl": "etl_spark.jvm.ForkFreeLocalFileSystem",
        "spark.hadoop.fs.AbstractFileSystem.file.impl": "etl_spark.jvm.ForkFreeLocalFs",
        "spark.driver.extraClassPath": jar,
    }
    conf["spark.ui.showConsoleProgress"] = "false"
    spark = get_spark(cores=len(os.sched_getaffinity(0)), app_name="trigger_floor", extra_conf=conf)
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    fs_class = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI.create("file:///"), hconf
    ).getClass().getName()
    tracker = spark.sparkContext.statusTracker()
    groups: list = [None]

    class _Groups(StreamingQueryListener):
        def onQueryStarted(self, e):
            groups.append(str(e.runId))

        def onQueryProgress(self, e):
            pass

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            pass

    spark.streams.addListener(_Groups())

    def mark() -> int:
        return max((j for g in groups for j in tracker.getJobIdsForGroup(g)), default=-1)

    cur: dict[str, float] = {}
    rows: dict[int, dict] = {}
    inside: set[str] = set()

    def timed(owner, name, key, jobs=False, flag=None, only_in=None):
        fn = getattr(owner, name)

        def w(*a, **k):
            if only_in and only_in not in inside:
                return fn(*a, **k)
            t0, j0 = time.perf_counter(), mark() if jobs else 0
            if flag:
                inside.add(flag)
            try:
                return fn(*a, **k)
            finally:
                inside.discard(flag)
                cur[key] = cur.get(key, 0.0) + time.perf_counter() - t0
                if jobs:
                    cur[key + "_jobs"] = cur.get(key + "_jobs", 0) + mark() - j0

        setattr(owner, name, w)

    timed(stream, "_resolve_trigger", "resolve_s", jobs=True)
    if hasattr(stream, "_trigger_files"):
        timed(stream, "_trigger_files", "resolve_s")
    phases: list[dict] = []
    real_apply = stream.apply_batch

    def apply(*a, **k):
        inside.add("apply")
        try:
            st = real_apply(*a, **k)
        finally:
            inside.discard("apply")
        phases.append(dict(st.phase_sec))
        return st

    stream.apply_batch = apply
    timed(DataFrameWriter, "parquet", "spark_write_s", only_in="apply")
    timed(LakeTable, "compact_small_files", "compaction_s", jobs=True)
    real_drain = stream._drain

    def drain(src, ckpt, available_now, on_batch):
        def batch(df, epoch_id, *rest):
            j0, f0 = mark(), _forks(log)
            on_batch(df, epoch_id, *rest)
            f1 = _forks(log)
            r = dict(cur, jobs=mark() - j0, **{f"fork_{c}": f1[c] - f0[c] for c in WRAPPED})
            if phases:
                p = phases.pop()
                r.update(plan_s=p.get("plan", 0.0), write_phase_s=p.get("write", 0.0),
                         commit_s=p.get("commit", 0.0))
                r["file_stats_s"] = r["write_phase_s"] - r.get("spark_write_s", 0.0)
            rows[epoch_id] = r
            cur.clear()

        return real_drain(src, ckpt, available_now, batch)

    stream._drain = drain
    out: dict = {"tree": tree, "fs": fs, "fs_class": fs_class, "shape": shape}
    if shape == "trickle":
        feed, ckpt = f"{work}/feed", f"{work}/ckpt"
        write_feed(
            change_feed_df(spark, n_events=500 * segments, n_convs=20_000, max_turns=24,
                           seed=7, n_batches=segments),
            feed, files_per_segment=1,
        )
        table = LakeTable.create(f"{work}/table", TRANSCRIPT_SCHEMA, n_buckets=16)
        c0, s0 = _cpu_steal()
        q = stream.run_stream(
            spark, table, feed, ckpt, max_files_per_trigger=1, mode="mor",
            mv_path=f"{work}/mv", mv_refresh_every=8, auto_compact_files=8,
        )
        c1, s1 = _cpu_steal()
        prog = {p["batchId"]: p["durationMs"] for p in (json.loads(x.json) for x in q.recentProgress)}
        timed_rows = []
        for e, r in sorted(rows.items()):
            if e >= WARM:
                r.update(trigger_execution_s=prog[e]["triggerExecution"] / 1e3,
                         add_batch_s=prog[e]["addBatch"] / 1e3)
                timed_rows.append(r)
        keys = sorted({k for r in timed_rows for k in r})
        out.update(
            triggers=len(timed_rows),
            median={k: statistics.median(r.get(k, 0.0) for r in timed_rows) for k in keys},
            mean={k: statistics.fmean(r.get(k, 0.0) for r in timed_rows) for k in keys},
            steal_frac=(s1 - s0) / max(1, c1 - c0),
            loadavg=os.getloadavg()[0],
        )
    else:
        from etl_spark.cdc.route import route_stream
        from etl_spark.lake import LakeCatalog

        feed = change_feed_df(spark, n_events=6000, n_convs=80, max_turns=8, seed=21, n_batches=2)
        feed = feed.withColumn(
            "tbl", F.when(F.xxhash64("conv_id") % 2 == 0, F.lit("raw.chat")).otherwise(F.lit("raw.agent"))
        )
        write_feed(feed, f"{work}/rfeed")
        write_feed(feed.drop("tbl"), f"{work}/sfeed")
        cat = LakeCatalog(f"{work}/cat")
        for i in ("raw.chat", "raw.agent"):
            cat.create_table(i, TRANSCRIPT_SCHEMA, n_buckets=4)
        table = LakeTable.create(f"{work}/table", TRANSCRIPT_SCHEMA, n_buckets=4)
        for name, run in (
            ("run_stream", lambda: stream.run_stream(
                spark, table, f"{work}/sfeed", f"{work}/ck1", max_files_per_trigger=1, mode="mor")),
            ("route_stream", lambda: route_stream(
                spark, cat, f"{work}/rfeed", f"{work}/ck2", ["raw.chat", "raw.agent"],
                max_files_per_trigger=1)),
        ):
            rows.clear()
            run()
            out[name] = {
                "triggers": len(rows),
                "jobs_per_trigger": sum(r["jobs"] for r in rows.values()) / len(rows),
                "resolve_jobs_per_trigger": sum(r.get("resolve_s_jobs", 0) for r in rows.values()) / len(rows),
            }
    spark.stop()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tree", action="append", default=[])
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--segments", type=int, default=15)
    ap.add_argument("--shape", choices=("trickle", "route"), default="trickle")
    ap.add_argument("--fs", action="append", choices=("stock", "shim"))
    ap.add_argument("--out")
    ap.add_argument("--child", nargs=4, metavar=("TREE", "FS", "JAR", "WORK"), help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        tree, fs, jar, work = args.child
        res = child(tree, fs, jar, args.shape, args.segments, work, os.environ["FORK_LOG"])
        print("RESULT " + json.dumps(res))
        return 0

    sys.path.insert(0, REPO)
    from etl_spark.session import fork_free_jar

    jar = fork_free_jar()
    legs = [(t, fs) for t in (args.tree or [REPO]) for fs in (args.fs or ("stock", "shim"))]
    runs: list[dict] = []
    for rnd in range(args.rounds):
        for i in range(len(legs)):
            tree, fs = legs[(i + rnd) % len(legs)]
            work = tempfile.mkdtemp(prefix="trigger_floor_")
            wrap, log = f"{work}/bin", f"{work}/forks.log"
            _fork_wrappers(wrap, log)
            env = dict(os.environ, FORK_LOG=log, PATH=f"{wrap}:{os.environ['PATH']}",
                       PYTHONPATH=tree, SPARK_LOCAL_DIRS=f"{work}/local")
            try:
                p = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--shape", args.shape,
                     "--segments", str(args.segments), "--child", tree, fs, jar or "", work],
                    env=env, capture_output=True, text=True, cwd=work,
                )
                line = [x for x in p.stdout.splitlines() if x.startswith("RESULT ")]
                if p.returncode != 0 or not line:
                    sys.stderr.write(p.stderr[-3000:])
                    raise RuntimeError(f"leg {tree} {fs} failed")
                res = dict(json.loads(line[-1][7:]), round=rnd)
            finally:
                shutil.rmtree(work, ignore_errors=True)
            runs.append(res)
            summary = res.get("median", {}).get("trigger_execution_s") or {
                k: res[k] for k in ("run_stream", "route_stream") if k in res}
            print(f"round {rnd} {tree} {fs}: {summary}", file=sys.stderr)
    out = {"shape": args.shape, "segments": args.segments, "warm_triggers": WARM,
           "cpus": len(os.sched_getaffinity(0)), "runs": runs}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    else:
        print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
