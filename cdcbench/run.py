"""Run one benchmark workload and print its metrics.

    python3 cdcbench/run.py --workload trickle_stream --seed 1 --seconds 25 --trace 0

Run from the repository root: the engine package ``etl_spark`` is imported
from there. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
fuller record of the run (input properties, host weather, every check,
every per-layer figure and, when traced, the spans) is written to
``.bench_out/<workload>-s<seed>-t<trace>.json``. The exit code is 0 only
when every operation succeeded and every output matched the oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from feedgen import Feed  # noqa: E402
from proc import Sampler, cpu_times, process_start_time, tree_pids, weather  # noqa: E402


def declared_metrics() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric names -> units, from BENCHMARK.json.
    The per-layer list holds the metrics every workload measures; ones
    only some workloads have (the streaming trigger phases, the COW scan
    phase) go to the run record only."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def start_session(work: str):
    """The engine's own session builder, overriding placement only: core
    count, scratch directories inside the work dir, no console progress."""
    from etl_spark.session import get_spark

    tmp = f"{work}/tmp"
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    # no JVM, the spark-submit launcher included, writes /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # the JVM's Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark(
        cores=len(os.sched_getaffinity(0)),
        app_name="cdcbench",
        extra_conf={
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.range(1).count()  # first job: JVM-side lazy start-up
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process to exit."""
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait(timeout=10)
    deadline = time.time() + 30
    while tree_pids()[1:] and time.time() < deadline:
        time.sleep(0.2)
    for pid in tree_pids()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def end_to_end(out, setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "events_per_s": out.events / out.ingest_wall_s,
        "batch_p50_s": statistics.median(out.batch_s),
        "read_point_p50_s": statistics.median(out.point_s),
        "read_scan_p50_s": statistics.median(out.scan_s),
        "cpu_s_per_mevent": out.ingest_cpu_s / (out.events / 1e6),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = process_start_time()
    host0 = cpu_times()

    sys.path.insert(0, ROOT)
    try:
        import etl_spark  # noqa: F401
    except ImportError as e:
        print(f"cdcbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads
    from tracing import JobMarks, Tracer

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"cdcbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{wl.name}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        with Sampler() as sampler:
            t0 = time.perf_counter()
            feed = Feed(wl.spec(args.seconds), args.seed)
            feed.write(f"{work}/stage")
            gen_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            spark = start_session(work)
            session_s = time.perf_counter() - t0
            tracer = Tracer(bool(args.trace), JobMarks(spark) if args.trace else None)
            out = workloads.Outcome()
            ctx = workloads.Ctx(spark, work, args.seed, tracer, sampler, out)
            try:
                wl.run(ctx, feed, f"{work}/stage")
            except workloads.StopRun:
                pass
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": feed.properties(workloads.N_BUCKETS),
        "host": weather(host0),
    }
    bad_checks = sum(not c["ok"] for c in out.checks)
    if out.failed or bad_checks or not out.checks:
        # a wrong final state is a failed run, not a number
        record.update(errors=out.errors, checks=out.checks)
        result = {"correct": False, "attempted": max(1, out.attempted),
                  "failed": out.failed + bad_checks, "metrics": {}}
        code = 1
    else:
        e2e = end_to_end(out, out.setup_end - t_proc)
        layers = {
            "session.start_s": session_s,
            "setup.gen_s": gen_s,
            "setup.warmup_s": out.warmup_s,
            "proc.steal_frac": record["host"]["steal_frac"],
            "proc.loadavg": record["host"]["loadavg_1m"],
            # per-layer, not end-to-end: JVM heap growth makes it bimodal
            # from run to run (IQR up to 28% of the median)
            "proc.peak_rss_mb": sampler.peak_rss_mb(),
            **out.layers,
        }
        chosen, units = (e2e, layers)[args.trace], declared_metrics()[args.trace]
        result = {
            "correct": True,
            "attempted": out.attempted,
            "failed": 0,
            "metrics": {k: {"value": chosen[k], "unit": u} for k, u in units.items()},
        }
        record.update(
            end_to_end=e2e, per_layer=layers, checks=out.checks,
            samples={"batch_s": out.batch_s, "point_s": out.point_s, "scan_s": out.scan_s},
            # (seconds since process start, tree RSS MB), one per second
            rss_series=[(round(t - t_proc, 1), round(r)) for t, _, r in sampler.samples[::4]],
        )
        if args.trace:
            record["spans"] = tracer.spans
        code = 0
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    rec_path = os.path.join(ROOT, ".bench_out", f"{wl.name}-s{args.seed}-t{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump({**record, "result": result}, f, indent=1, default=str)
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
