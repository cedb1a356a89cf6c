"""The in-process local filesystem (``jvm/NioLocalFileSystem.java``).

``session.get_spark`` binds it for ``file:`` paths when it launches
the JVM.  These tests pin that the write path then starts no process,
that the shim answers every call it overrides exactly as Hadoop's own
``RawLocalFileSystem`` does, and that a JVM launched without it keeps
working on Hadoop's filesystem.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHIM = "sparkgraft.NioLocalFileSystem"

needs_javac = pytest.mark.skipif(
    shutil.which("javac") is None, reason="the shim is compiled with javac"
)


def _run(script: str, env: dict | None = None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script), ROOT],
        capture_output=True, text=True, timeout=600, env=env,
    )


@needs_javac
def test_write_path_spawns_no_process(tmp_path):
    """One landed event batch through both sinks, one ``write_parquet``
    and one ``tablelog.append`` start no ``chmod``/``readlink``/``ls``/
    ``stat`` (wrappers first on PATH log every call; ``bash``/``sh``
    are not wrapped, as spark-submit runs under ``env bash``).  With
    Hadoop's own filesystem the log holds ~220 entries."""
    bin_dir, log = tmp_path / "bin", tmp_path / "spawned.log"
    bin_dir.mkdir()
    for name in ("chmod", "readlink", "ls", "stat"):
        wrapper = bin_dir / name
        wrapper.write_text(f'#!/bin/sh\necho {name} >> "{log}"\nexec {shutil.which(name)} "$@"\n')
        wrapper.chmod(0o755)
    env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}")
    out = _run(
        f"""
        import os, sys
        sys.path.insert(0, sys.argv[1])
        import pyarrow as pa, pyarrow.parquet as pq
        from data_engineering_assessment_spark.session import get_spark
        from data_engineering_assessment_spark.sources import parquet_io, tablelog
        from data_engineering_assessment_spark.streaming import sinks, windows

        work = {str(tmp_path)!r}
        spark = get_spark(app_name="spawn-count", cpus=2, shuffle_partitions=2)
        open({str(log)!r}, "w").close()  # count the write path, not the launch
        landing = os.path.join(work, "landing")
        os.makedirs(landing)
        pq.write_table(pa.table({{
            "event_id": pa.array(range(100), pa.int64()),
            "ts": pa.array([1709251200 + 30 * i for i in range(100)], pa.timestamp("us")),
            "user_id": pa.array([i % 7 for i in range(100)], pa.int64()),
            "event_type": ["view", "click"] * 50,
            "value": [1.5] * 100,
            "props": ["{{}}"] * 100,
        }}), os.path.join(landing, "batch-00000.parquet"))
        sinks.start_upsert_sink(
            windows.tumbling_counts(windows.read_event_stream(spark, landing)),
            os.path.join(work, "counts"), ["window_start", "event_type"],
            checkpoint=os.path.join(work, "ckpt_counts"),
        ).awaitTermination()
        sinks.start_tablelog_sink(
            windows.stream_dedup(windows.read_event_stream(spark, landing)),
            os.path.join(work, "dedup"), checkpoint=os.path.join(work, "ckpt_dedup"),
        ).awaitTermination()
        parquet_io.write_parquet(spark.range(10), os.path.join(work, "out"))
        dedup = os.path.join(work, "dedup")
        tablelog.append(tablelog.read_version(spark, dedup).limit(10), dedup)
        assert spark.read.parquet(os.path.join(work, "counts")).count() > 0
        print("WRITES-OK")
        """,
        env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "WRITES-OK" in out.stdout
    spawned = log.read_text().split()
    assert spawned == [], {name: spawned.count(name) for name in set(spawned)}


def test_session_without_the_shim_on_its_jvm_keeps_hadoop_fs(tmp_path):
    """A ``get_spark`` on a JVM something else launched leaves the shim
    confs unset (the class is not on that JVM's classpath, and naming
    it would fail every file operation) and adds no JVM option (the
    class-data archive applies to a launch only), and file I/O still
    works."""
    out = _run(
        f"""
        import os, sys
        sys.path.insert(0, sys.argv[1])
        from pyspark.sql import SparkSession
        from data_engineering_assessment_spark.session import get_spark

        plain = SparkSession.builder.master("local[1]").getOrCreate()
        # Spark itself sets its module options here; get_spark adds none
        spark_own = plain.sparkContext.getConf().get("spark.driver.extraJavaOptions")
        plain.stop()
        spark = get_spark(app_name="no-shim", cpus=1, shuffle_partitions=1)
        conf = spark.sparkContext.getConf()
        for key in ("spark.driver.extraClassPath", "spark.hadoop.fs.file.impl",
                    "spark.hadoop.fs.AbstractFileSystem.file.impl"):
            assert conf.get(key) is None, (key, conf.get(key))
            assert spark.conf.get(key, None) is None, key
        assert conf.get("spark.driver.extraJavaOptions") == spark_own
        assert "-XX:SharedArchiveFile" not in (spark_own or "")
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
        assert not fs.getClass().getName().startswith("sparkgraft."), fs.getClass().getName()
        path = os.path.join({str(tmp_path)!r}, "t")
        spark.range(5).write.parquet(path)
        assert spark.read.parquet(path).count() == 5
        print("IO-OK")
        """
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "IO-OK" in out.stdout


def test_shim_build_falls_back_with_one_line(monkeypatch, tmp_path, capsys):
    """No ``javac``, or a build root that cannot be written: no class
    directory (the session keeps Hadoop's filesystem) and one line on
    stderr saying so."""
    from data_engineering_assessment_spark import session

    (tmp_path / "file").write_text("")
    monkeypatch.setattr(session, "BUILD_ROOT", str(tmp_path / "file" / "build"))
    assert session._nio_fs_jar() is None
    monkeypatch.setattr(shutil, "which", lambda name: None)
    assert session._nio_fs_jar() is None
    lines = capsys.readouterr().err.splitlines()
    assert len(lines) == 2 and "no javac" in lines[1], lines
    assert all(line.endswith("local files go through Hadoop's own filesystem") for line in lines)


@pytest.fixture(scope="module")
def hadoop(spark):
    """(jvm, hadoop conf, Hadoop's raw local fs, the shim's raw fs)."""
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if conf.get("fs.file.impl") != SHIM:
        pytest.skip("the session JVM runs without the shim (no javac)")
    uri = jvm.java.net.URI("file:///")
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(uri, conf)
    shim = getattr(jvm.sparkgraft, "NioLocalFileSystem$Raw")()
    shim.initialize(uri, conf)
    return jvm, conf, stock, shim


def test_session_binds_the_shim(spark, hadoop):
    jvm, conf, _, _ = hadoop
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == SHIM
    assert fs.getRawFileSystem().getClass().getName() == SHIM + "$Raw"
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == SHIM + "$Fs"


@needs_javac
def test_modes_equal_hadoops(hadoop, tmp_path):
    """create → 0644 and mkdirs → 0755 under Hadoop's umask 022, an
    explicit setPermission(0700) → 0700: the same modes Hadoop's
    ``chmod`` fork leaves, on the file and on its ``.crc``."""
    jvm, conf, stock, shim = hadoop
    Path = jvm.org.apache.hadoop.fs.Path
    modes = {}
    for name, raw in (("stock", stock), ("shim", shim)):
        fs = jvm.org.apache.hadoop.fs.LocalFileSystem(raw)
        fs.initialize(jvm.java.net.URI("file:///"), conf)
        base = tmp_path / name
        fs.mkdirs(Path(str(base / "a" / "b")))
        fs.create(Path(str(base / "a" / "b" / "f"))).close()
        fs.create(Path(str(base / "g"))).close()
        fs.setPermission(Path(str(base / "g")), jvm.org.apache.hadoop.fs.permission.FsPermission(0o700))
        modes[name] = {
            str(p.relative_to(base)): oct(p.stat().st_mode & 0o7777) for p in base.rglob("*")
        }
    assert modes["shim"] == modes["stock"]
    assert modes["shim"] == {
        "a": "0o755", "a/b": "0o755", "a/b/f": "0o644", "a/b/.f.crc": "0o644",
        "g": "0o700", ".g.crc": "0o700",
    }


def _link_status(jvm, fs, path):
    try:
        return fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(path)).toString()
    except Exception as e:  # py4j wraps the Java exception
        return type(e).__name__ + ":" + str(e.java_exception.getClass().getName())


@needs_javac
def test_link_status_equals_hadoops(hadoop, tmp_path):
    """getFileLinkStatus on a file, a directory, a relative, an absolute
    and a dangling symlink and a missing path: field for field the
    status Hadoop's ``readlink`` fork returns (target qualified the
    same way), and ``FileNotFoundException`` for the missing path."""
    jvm, _, stock, shim = hadoop
    (tmp_path / "d").mkdir()
    (tmp_path / "d" / "f").write_text("x")
    os.symlink("d", tmp_path / "rel")
    os.symlink(str(tmp_path / "d" / "f"), tmp_path / "abs")
    os.symlink("gone", tmp_path / "dangling")
    paths = [str(tmp_path / n) for n in ("d", "d/f", "rel", "abs", "dangling", "missing")]
    paths += ["file:" + p for p in paths]
    got = {p: _link_status(jvm, shim, p) for p in paths}
    assert got == {p: _link_status(jvm, stock, p) for p in paths}
    assert "isSymlink=true" in got[str(tmp_path / "rel")]
    assert f"symlink=file:{tmp_path}/d" in got[str(tmp_path / "rel")]
    assert "isSymlink=true" in got[str(tmp_path / "dangling")]
    assert got[str(tmp_path / "missing")].endswith("java.io.FileNotFoundException")
    assert str(shim.getLinkTarget(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "rel")))) == "d"


@needs_javac
def test_file_context_rename_none_refuses_existing_target(spark, hadoop, tmp_path):
    """The checkpoint log's no-overwrite rename keeps its guard."""
    jvm, conf, _, _ = hadoop
    from py4j.protocol import Py4JJavaError

    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    Path = jvm.org.apache.hadoop.fs.Path
    (tmp_path / "src").write_text("new")
    (tmp_path / "dst").write_text("old")
    rename = getattr(jvm.org.apache.hadoop.fs, "Options$Rename")
    opts = spark.sparkContext._gateway.new_array(rename, 1)
    opts[0] = rename.NONE
    with pytest.raises(Py4JJavaError) as err:
        fc.rename(Path(str(tmp_path / "src")), Path(str(tmp_path / "dst")), opts)
    assert err.value.java_exception.getClass().getName() == (
        "org.apache.hadoop.fs.FileAlreadyExistsException"
    )
    assert (tmp_path / "dst").read_text() == "old"
    opts[0] = rename.OVERWRITE
    fc.rename(Path(str(tmp_path / "src")), Path(str(tmp_path / "dst")), opts)
    assert (tmp_path / "dst").read_text() == "new"


def test_published_symlink_target_reads_back(spark, tmp_path):
    from data_engineering_assessment_spark.sources.layout import publish_version

    path = str(tmp_path / "t")
    publish_version(path, spark.range(3).write.parquet)
    publish_version(path, spark.range(5).write.parquet)
    assert os.path.islink(path)
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(5))
