"""The fork-free local filesystem shim (etl_spark/jvm/, wired in by
session.get_spark): the session resolves file:// to it, it leaves the
same mode bits and .crc siblings as stock Hadoop, and its jar is built
atomically, once, or skipped with one WARN."""

from __future__ import annotations

import logging
import os
import shutil
import stat
import zipfile

from pyspark import SparkContext

from etl_spark import session
from etl_spark.session import SHIM_AFS, SHIM_FS


def _fs_tree(root: str) -> dict[str, int]:
    """Relative path -> permission bits of every file and dir under root."""
    out = {".": stat.S_IMODE(os.stat(root).st_mode)}
    for d, dirs, files in os.walk(root):
        for n in dirs + files:
            p = os.path.join(d, n)
            out[os.path.relpath(p, root)] = stat.S_IMODE(os.stat(p).st_mode)
    return out


def _assert_stock_layout(root: str) -> None:
    """Stock Hadoop under its default umask 022: files 0644, dirs 0755,
    and every data file with its .<name>.crc sibling (and no orphan)."""
    tree = _fs_tree(root)
    for rel, mode in tree.items():
        want = 0o755 if os.path.isdir(os.path.join(root, rel)) else 0o644
        assert mode == want, (rel, oct(mode))
    files = {r for r in tree if os.path.isfile(os.path.join(root, r))}
    crcs = {r for r in files if r.endswith(".crc")}
    data = files - crcs
    assert data and crcs == {
        os.path.join(os.path.dirname(r), f".{os.path.basename(r)}.crc") for r in data
    }


def _jfs(spark):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI.create("file:///")
    return jvm, conf, jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)


def test_session_resolves_local_filesystems_to_shim(spark):
    jvm, _conf, fs = _jfs(spark)
    assert fs.getClass().getName() == SHIM_FS
    assert fs.getRawFileSystem().getClass().getName() == f"{SHIM_FS}$Raw"
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext()
    assert fc.getDefaultFileSystem().getClass().getName() == SHIM_AFS
    cp = spark.sparkContext.getConf().get("spark.driver.extraClassPath")
    assert cp.split(os.pathsep)[-1] == session.fork_free_jar()


def test_shim_writes_what_stock_hadoop_writes(spark, tmpdir_path):
    """mkdirs + create through a stock LocalFileSystem and through the
    shim: same names, .crc siblings, bytes and mode bits."""
    jvm, conf, shim = _jfs(spark)
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(jvm.java.net.URI.create("file:///"), conf)
    for name, fs in (("stock", stock), ("shim", shim)):
        base = os.path.join(tmpdir_path, name)
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(f"{base}/a/b"))
        out = fs.create(jvm.org.apache.hadoop.fs.Path(f"{base}/a/b/f.bin"))
        out.write(bytearray(b"fork-free" * 100))
        out.close()
    s, f = (os.path.join(tmpdir_path, n) for n in ("stock", "shim"))
    assert _fs_tree(s) == _fs_tree(f)
    for rel in ("a/b/f.bin", "a/b/.f.bin.crc"):
        with open(os.path.join(s, rel), "rb") as a, open(os.path.join(f, rel), "rb") as b:
            assert a.read() == b.read()
    _assert_stock_layout(f)


def test_partitioned_write_and_stream_checkpoint_layout(spark, tmpdir_path):
    out = os.path.join(tmpdir_path, "parted")
    spark.range(60).selectExpr("id", "id % 3 AS p").write.partitionBy("p").parquet(out)
    _assert_stock_layout(out)

    ck = os.path.join(tmpdir_path, "ck")
    q = (
        spark.readStream.schema("id LONG, p INT").parquet(f"{out}/*")
        .writeStream.foreachBatch(lambda df, e: None)
        .option("checkpointLocation", ck).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert os.listdir(os.path.join(ck, "commits"))
    _assert_stock_layout(ck)


def test_set_permission_non_default_modes(spark, tmpdir_path):
    jvm, _conf, fs = _jfs(spark)
    f, d, sticky = (os.path.join(tmpdir_path, n) for n in ("f", "d", "s"))
    open(f, "wb").close()
    os.mkdir(d)
    os.mkdir(sticky)
    for path, mode in ((f, 0o640), (d, 0o750), (sticky, 0o1750), (f, 0o604)):
        perm = jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}")
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(path), perm)
        assert stat.S_IMODE(os.stat(path).st_mode) == mode


def _jvm_dir(tmp_path, monkeypatch) -> str:
    d = tmp_path / "jvm"
    shutil.copytree(session._JVM_DIR, d, ignore=shutil.ignore_patterns("build"))
    monkeypatch.setattr(session, "_JVM_DIR", str(d))
    return str(d)


def test_jar_built_atomically_once(tmp_path, monkeypatch):
    d = _jvm_dir(tmp_path, monkeypatch)
    jar = session.fork_free_jar()
    assert jar is not None and os.listdir(os.path.join(d, "build")) == [os.path.basename(jar)]
    with zipfile.ZipFile(jar) as z:
        names = set(z.namelist())
    assert session._SHIM_SITE in names
    assert {"etl_spark/jvm/ForkFreeLocalFileSystem.class",
            "etl_spark/jvm/ForkFreeLocalFs.class"} <= names

    def no_compile(*a, **k):
        raise AssertionError("recompiled an up-to-date jar")

    monkeypatch.setattr(session.subprocess, "run", no_compile)
    assert session.fork_free_jar() == jar
    # an edited source is a new content hash, hence a new jar
    with open(os.path.join(d, "ForkFreeLocalFs.java"), "a") as f:
        f.write("\n// edited\n")
    monkeypatch.undo()
    monkeypatch.setattr(session, "_JVM_DIR", d)
    jar2 = session.fork_free_jar()
    assert jar2 != jar and sorted(os.listdir(os.path.join(d, "build"))) == sorted(
        os.path.basename(j) for j in (jar, jar2)
    )


def _no_jvm_yet(monkeypatch) -> None:
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)


def test_without_javac_one_warn_and_stock_hadoop(tmp_path, monkeypatch, caplog):
    _jvm_dir(tmp_path, monkeypatch)
    _no_jvm_yet(monkeypatch)
    monkeypatch.setattr(session.shutil, "which", lambda name: None)
    conf = {"spark.driver.extraClassPath": "/lib/extra.jar"}
    with caplog.at_level(logging.INFO, logger=session.__name__):
        assert session._with_fork_free_fs(conf) is None
    assert conf == {"spark.driver.extraClassPath": "/lib/extra.jar"}
    assert [r.levelno for r in caplog.records] == [logging.WARNING]


def test_caller_classpath_merged_not_overwritten(monkeypatch):
    monkeypatch.setattr(session, "fork_free_jar", lambda: "/b/shim.jar")
    _no_jvm_yet(monkeypatch)
    conf = {
        "spark.driver.extraClassPath": "/a/one.jar",
        "spark.executor.extraClassPath": f"/c/two.jar{os.pathsep}/c/three.jar",
    }
    assert session._with_fork_free_fs(conf) == "/b/shim.jar"
    assert conf["spark.driver.extraClassPath"] == f"/a/one.jar{os.pathsep}/b/shim.jar"
    assert conf["spark.executor.extraClassPath"] == (
        f"/c/two.jar{os.pathsep}/c/three.jar{os.pathsep}/b/shim.jar"
    )
    assert conf["spark.hadoop.fs.file.impl"] == SHIM_FS
    assert conf["spark.hadoop.fs.AbstractFileSystem.file.impl"] == SHIM_AFS
    # a caller mapping file:// itself keeps its own mapping and classpath
    own = {"spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem"}
    assert session._with_fork_free_fs(own) is None
    assert own == {"spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem"}
    # a JVM already up (spark-submit's) keeps its classpath: no shim
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    conf = {}
    assert session._with_fork_free_fs(conf) is None and conf == {}
