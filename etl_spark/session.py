"""SparkSession builders.

Local-mode sessions are parameterized on core count so the same job can run
at two parallelism levels (local[8] vs local[32]) to evidence the N→4N
scaling-efficiency criterion (reference cluster shape: 8 replicas × 15 CPU,
/root/reference/k8s/data-pipeline/deployments/parser.yml:7,81-87).

Local files go through a fork-free filesystem shim (``etl_spark/jvm/``).
Without libhadoop (``NativeIO.isAvailable()`` false, the usual case for a
pip-installed pyspark), Hadoop's ``RawLocalFileSystem.setPermission``
forks a ``chmod`` process for every file, ``.crc`` sibling and directory
it creates: dozens of forks per micro-batch write, a fixed per-trigger
cost that moves no data. The shim sets the same mode bits in-process
(``java.nio``); checksums, layout and modes are stock Hadoop's. It is
compiled once per checkout into a content-hashed jar; without ``javac``
the session keeps stock Hadoop, which is correct, only slower.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import time
import zipfile

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
SHIM_FS = "etl_spark.jvm.ForkFreeLocalFileSystem"  # fs.file.impl
SHIM_AFS = "etl_spark.jvm.ForkFreeLocalFs"  # fs.AbstractFileSystem.file.impl
# bundled in the jar and added as a Hadoop default resource, so a bare
# ``new Configuration()`` (FileContext.getLocalFSFileContext()) maps
# file:// to the shim too, not only Spark's own Hadoop conf
_SHIM_SITE = "etl_spark-forkfree-site.xml"
_SHIM_CONF = {"fs.file.impl": SHIM_FS, "fs.AbstractFileSystem.file.impl": SHIM_AFS}


def fork_free_jar() -> str | None:
    """Path of the shim jar, compiled on first use (``javac --release 17``
    against the ``hadoop-client-api`` jar of the Spark that runs) into
    ``etl_spark/jvm/build/forkfree-<hash>.jar``, the hash covering the
    sources and the Hadoop jar's name. The jar is written to a temp file
    and renamed into place, so a concurrent session never loads a
    half-written one. None (stock Hadoop, one WARN) when it cannot be
    built."""
    import pyspark

    srcs = sorted(glob.glob(os.path.join(_JVM_DIR, "*.java")))
    # the Spark the session will launch: SPARK_HOME first, as pyspark does
    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    api = sorted(glob.glob(os.path.join(home, "jars", "hadoop-client-api-*.jar")))
    javac = shutil.which("javac")
    if not (srcs and api and javac):
        log.warning("fork-free local filesystem unavailable (no javac or "
                    "hadoop-client-api jar); using stock Hadoop")
        return None
    h = hashlib.sha256(os.path.basename(api[-1]).encode())
    for p in srcs:
        with open(p, "rb") as f:
            h.update(f.read())
    build = os.path.join(_JVM_DIR, "build")
    jar = os.path.join(build, f"forkfree-{h.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    site = "<configuration>" + "".join(
        f"<property><name>{k}</name><value>{v}</value></property>"
        for k, v in _SHIM_CONF.items()
    ) + "</configuration>\n"
    t0 = time.time()
    try:
        os.makedirs(build, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=build) as classes:
            subprocess.run(
                [javac, "--release", "17", "-cp", api[-1], "-d", classes, *srcs],
                check=True, capture_output=True,
            )
            fd, part = tempfile.mkstemp(dir=build, suffix=".part")
            try:
                with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as z:
                    z.writestr(_SHIM_SITE, site)
                    for root, _dirs, names in os.walk(classes):
                        for n in sorted(names):
                            full = os.path.join(root, n)
                            z.write(full, os.path.relpath(full, classes))
                os.replace(part, jar)
            finally:
                if os.path.exists(part):
                    os.remove(part)
    except (OSError, subprocess.CalledProcessError) as e:
        err = getattr(e, "stderr", b"") or b""
        log.warning("fork-free local filesystem not built (%s %s); using "
                    "stock Hadoop", e, err.decode(errors="replace").strip())
        return None
    log.info("compiled %s in %.2f s", jar, time.time() - t0)
    return jar


def _with_fork_free_fs(conf: dict[str, str]) -> str | None:
    """Wire the shim into a session's ``conf`` in place and return its
    jar, or None (conf untouched) when the caller maps ``file://``
    itself, or it cannot be built, or this process already talks to a
    JVM (an earlier session's gateway, or spark-submit's): that JVM
    keeps its classpath, so a jar added now would never load. A caller's
    driver/executor ``extraClassPath`` is kept, the jar appended to it."""
    from pyspark import SparkContext

    if (
        "spark.hadoop.fs.file.impl" in conf
        or SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
    ):
        return None
    jar = fork_free_jar()
    if jar is None:
        return None
    for k, v in _SHIM_CONF.items():
        conf[f"spark.hadoop.{k}"] = v
    for key in ("spark.driver.extraClassPath", "spark.executor.extraClassPath"):
        prev = conf.get(key)
        conf[key] = f"{prev}{os.pathsep}{jar}" if prev else jar
    return jar


def get_spark(
    cores: int | None = None,
    app_name: str = "etl_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    executors: int | None = None,
    executor_cores: int = 8,
    executor_mem_mb: int = 16384,
) -> SparkSession:
    """Build (or fetch) a local SparkSession.

    Two shapes:
      * ``cores`` → ``local[cores]``: one JVM, N threads. Simple, but a
        single JVM stops scaling past ~8 cores (GC/allocator/lock
        contention — the reason real deployments cap executors at 5-8
        cores).
      * ``executors`` → ``local-cluster[executors, executor_cores, mem]``:
        separate executor JVMs on this machine — the faithful stand-in for
        a multi-executor cluster and the shape the N-vs-4N scaling
        evidence uses.

    On a real cluster the same code runs under ``spark-submit --py-files``
    with executor counts N and 4N — nothing here assumes single-process
    execution (all logic is DataFrame-plan level; partitioning is explicit
    where it matters).
    """
    if executors is not None:
        total = executors * executor_cores
        if shuffle_partitions is None:
            # 4 waves of reduce tasks per stage: the dedup/window exchange
            # keys on the table bucket, and Zipf-hot buckets straggle if the
            # stage is a single wave (measured: 0.55 core utilization at
            # 1 wave; multi-wave scheduling backfills the idle cores).
            # AQE's parallelismFirst keeps this count (it only coalesces
            # below-1-MiB slivers).
            shuffle_partitions = max(4 * total, 16)
        master = f"local-cluster[{executors},{executor_cores},{executor_mem_mb}]"
        # executor JVMs spawn their own Python workers, which must be able
        # to import this package (the local analog of --py-files)
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        extra_conf = dict(extra_conf or {})
        prev = extra_conf.get("spark.executorEnv.PYTHONPATH", "")
        extra_conf["spark.executorEnv.PYTHONPATH"] = (
            f"{repo_root}:{prev}" if prev else repo_root
        )
        # CRITICAL: without this, executors get Spark's 1 GiB default heap,
        # OOM under real batches, and are silently killed+relaunched in a
        # loop (observed: 100+ executor incarnations per app, whole-stage
        # stalls of 30-75 s). Size the heap to the worker allowance minus
        # overhead headroom.
        extra_conf.setdefault(
            "spark.executor.memory", f"{max(1024, executor_mem_mb - 4096)}m"
        )
        # Each executor JVM sizes GC/JIT/netty pools as if it owned EVERY
        # host core (os.cpu_count()), so N executors spawn N*~30 background
        # threads that thrash each other. Cap them to the executor's core
        # share — on a real cluster the container runtime does this for us.
        gc_threads = max(2, executor_cores)
        extra_conf.setdefault(
            "spark.executor.extraJavaOptions",
            f"-XX:ParallelGCThreads={gc_threads} -XX:ConcGCThreads=2 "
            f"-XX:CICompilerCount=2 "
            f"-XX:ActiveProcessorCount={executor_cores}",
        )
        extra_conf.setdefault("spark.shuffle.io.serverThreads", str(executor_cores))
        extra_conf.setdefault("spark.shuffle.io.clientThreads", str(executor_cores))
    else:
        if cores is None:
            cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
        total = cores
        if shuffle_partitions is None:
            shuffle_partitions = max(cores, 8)
        master = f"local[{cores}]"
    cores = total
    extra_conf = dict(extra_conf or {})
    jar = _with_fork_free_fs(extra_conf)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the legacy default) carries NO parquet column statistics;
        # TIMESTAMP_MICROS makes ts min/max available to manifest file
        # metrics and row-group skipping (and is the Iceberg-spec type)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # CDC inputs live in object storage (no data locality exists) and
        # lake buckets are hash-placed, so a 3 s locality wait per task is
        # pure scheduling stall — measured: multi-second "scan" phases on
        # multi-executor runs whose map work is <1 s. Standard setting for
        # storage-disaggregated clusters.
        .config("spark.locality.wait", "0s")
        # File-index listing: above this many paths Spark launches a
        # whole Spark JOB just to stat the files (default threshold 32).
        # MOR tables pass hundreds of explicit delta-file paths per read,
        # and the listing job was measured at 0.5-1.2s of pure overhead
        # per micro-batch (growing with table age). Driver-side listing
        # of a few thousand paths is microseconds on a filesystem and one
        # batched LIST on object storage — keep the job for truly huge
        # file sets only.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        # PySpark 4 wraps every DataFrame/Column call to capture the
        # Python call site for error enrichment: getActiveSession +
        # conf.get + two extra py4j round-trips PER API CALL. Measured at
        # ~1s of pure driver time per CDC micro-batch (≈2.8ms × ~400
        # calls) — a fixed tax on every plan build. Ingest is a
        # long-running service, not a notebook; trade the prettier
        # tracebacks for per-batch latency.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.ignoreCorruptFiles", "false")  # fail loud, cf. SURVEY §2.9
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    jvm = spark.sparkContext._jvm
    if jar is not None:
        jvm.org.apache.hadoop.conf.Configuration.addDefaultResource(_SHIM_SITE)
    # The streaming file source probes its glob path (<feed>/*) for a sink
    # metadata dir and logs a WARN plus a stack trace on every query start
    # when there is none — the normal case for a producer-written feed.
    # Silence that one logger; every other WARN stays.
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
