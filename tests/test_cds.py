"""The driver JVM's class-data archive (``session._cds_archive``).

``get_spark`` starts the JVM it launches with ``-XX:SharedArchiveFile``,
built once per checkout.  These tests pin that the JVM really loads
Spark from the archive (its own class-load log says so), that a second
launch reuses it, and that every way the archive can be absent or
unusable (a real conf file, a failed build, a truncated or rejected
archive) starts a working session without it, with at most one line on
stderr.  Each session runs in its own subprocess: the flag only applies
to a launch.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_javac = pytest.mark.skipif(
    shutil.which("javac") is None, reason="the archive is built for the session with the shim"
)


def _session(env: dict, prelude: str = "") -> tuple[dict, list[str]]:
    """Start ``get_spark`` in a subprocess after ``prelude``; return what
    the session reports and the ``spark-graft:`` lines on its stderr."""
    script = textwrap.dedent(
        """
        import json, os, sys
        sys.path.insert(0, sys.argv[1])
        from data_engineering_assessment_spark import session
        """
    ) + textwrap.dedent(prelude) + textwrap.dedent(
        """
        # SparkContext itself exports these two to its Python workers
        own = ("SPARK_BUFFER_SIZE", "SPARK_AUTH_SOCKET_TIMEOUT")
        environ = dict(os.environ)
        spark = session.get_spark(app_name="cds", cpus=1, shuffle_partitions=1)
        for key in own:
            if key not in environ:
                os.environ.pop(key, None)
        conf = spark.sparkContext.getConf()
        opts = (conf.get("spark.driver.extraJavaOptions") or "").split()
        archive = [o.split("=", 1)[1] for o in opts if o.startswith("-XX:SharedArchiveFile=")]
        print("RESULT " + json.dumps({
            "archive": archive[0] if archive else None,
            "environ_kept": dict(os.environ) == environ,
            "probe": conf.get("spark.graft.probe"),
            "count": spark.range(3).count(),
        }))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script, ROOT],
        capture_output=True, text=True, timeout=900, env=dict(os.environ, **env),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = [line for line in out.stdout.splitlines() if line.startswith("RESULT ")]
    assert result, out.stdout[-3000:]
    return json.loads(result[-1][len("RESULT "):]), [
        line for line in out.stderr.splitlines() if line.startswith("spark-graft:")
    ]


def _templates_only(tmp_path) -> dict:
    """The environment of a launch whose conf dir holds only a template
    (Spark's own conf dir as shipped), naming a conf key Spark would
    read from a real ``spark-defaults.conf``."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("spark.graft.probe template\n")
    return {"SPARK_CONF_DIR": str(conf)}


@needs_javac
def test_session_loads_spark_from_the_archive_and_reuses_it(tmp_path):
    """The JVM's own class-load log shows ``SparkContext`` coming from the
    archive; the second launch, in a fresh process, maps the same
    archive without rebuilding it.  The template is not read."""
    env = _templates_only(tmp_path)
    first, lines = _session(env)
    assert first["archive"] and os.path.isfile(first["archive"]), (first, lines)
    assert first["environ_kept"] and first["count"] == 3 and lines == []
    mtime = os.stat(first["archive"]).st_mtime_ns

    logs = tmp_path / "logs"
    logs.mkdir()
    second, lines = _session(dict(env, JAVA_TOOL_OPTIONS=f"-Xlog:class+load=info:file={logs}/%p.log"))
    assert second == {"archive": first["archive"], "environ_kept": True, "probe": None, "count": 3}
    assert lines == []
    assert os.stat(first["archive"]).st_mtime_ns == mtime
    loaded = [
        line for log in logs.iterdir() for line in log.read_text().splitlines()
        if " org.apache.spark.SparkContext source: " in line
    ]
    assert loaded and all(line.endswith("source: shared objects file (top)") for line in loaded), loaded


@needs_javac
def test_conf_dir_with_a_real_file_is_kept_without_an_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.probe real\n")
    result, lines = _session({"SPARK_CONF_DIR": str(conf)})
    assert result == {"archive": None, "environ_kept": True, "probe": "real", "count": 3}
    assert len(lines) == 1 and "spark-defaults.conf" in lines[0], lines


def _plant_archive(tmp_path, data: bytes, size: int) -> str:
    """A prelude that points ``BUILD_ROOT`` at ``tmp_path`` and publishes
    ``data`` as the archive there, recorded as ``size`` bytes."""
    (tmp_path / "planted.jsa").write_bytes(data)
    return f"""
        import shutil
        session.BUILD_ROOT = {str(tmp_path / "build")!r}
        path = session._cds_dir(session._nio_fs_jar())
        os.makedirs(path)
        shutil.copy({str(tmp_path / "planted.jsa")!r}, os.path.join(path, "driver.jsa"))
        with open(os.path.join(path, "_scratch_meta.json"), "w") as fh:
            json.dump({{"size": {size}}}, fh)
        """


@needs_javac
def test_truncated_archive_is_discarded_not_mapped(tmp_path):
    """A 1 MB prefix of a real archive, mapped, kills the JVM with SIGBUS;
    its size differs from the recorded one, so it is discarded and the
    session starts without it."""
    real = sorted(glob.glob(os.path.join(ROOT, ".build", "cds_*", "driver.jsa")))
    prefix = open(real[0], "rb").read(1 << 20) if real else bytes(1 << 20)
    result, lines = _session(_templates_only(tmp_path), _plant_archive(tmp_path, prefix, 2 << 20))
    assert result == {"archive": None, "environ_kept": True, "probe": None, "count": 3}
    assert len(lines) == 1 and "discarded" in lines[0], lines
    assert glob.glob(str(tmp_path / "build" / "cds_*")) == []


@needs_javac
def test_archive_the_jvm_rejects_starts_without_it(tmp_path):
    """An archive of the recorded size that the JVM cannot use: it is
    passed, the JVM runs on without it (``-Xshare:auto``)."""
    result, lines = _session(_templates_only(tmp_path), _plant_archive(tmp_path, bytes(4096), 4096))
    assert result["archive"] and result["count"] == 3, result
    assert lines == []


@pytest.mark.parametrize("exercise, why", [
    ("raise SystemExit(3)", "the exercise exited 3"),
    (  # exits cleanly without dumping anything
        "import json; print(json.dumps({'java_home': %r, 'args': [], 'class_path': ''}))",
        "failed its -Xshare:on check",
    ),
])
def test_failed_build_is_recorded_once(monkeypatch, tmp_path, capsys, exercise, why):
    """A build whose dump fails publishes its reason: the launch and
    every later one run without an archive, one stderr line each, and
    the exercise is not run again.  An unwritable build root: one line."""
    from data_engineering_assessment_spark import session

    runs = tmp_path / "runs"
    script = tmp_path / "exercise.py"
    script.write_text(
        f"open({str(runs)!r}, 'a').write('run\\n')\n"
        + (exercise % session._java_home() if "%r" in exercise else exercise) + "\n"
    )
    jar = tmp_path / "shim.jar"
    jar.write_bytes(b"")
    monkeypatch.setattr(session, "BUILD_ROOT", str(tmp_path / "build"))
    monkeypatch.setattr(session, "_CDS_EXERCISE", str(script))
    assert session._cds_archive(str(jar)) is None
    assert session._cds_archive(str(jar)) is None
    assert runs.read_text() == "run\n"
    lines = capsys.readouterr().err.splitlines()
    assert len(lines) == 2 and all(why in line for line in lines), lines

    (tmp_path / "file").write_text("")
    monkeypatch.setattr(session, "BUILD_ROOT", str(tmp_path / "file" / "build"))
    assert session._cds_archive(str(jar)) is None
    lines = capsys.readouterr().err.splitlines()
    assert len(lines) == 1 and lines[0].endswith("the driver JVM starts without one"), lines
