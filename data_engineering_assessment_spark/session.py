"""SparkSession factory with pinned, scale-aware defaults.

The reference runs Spark 3.0.0 local mode with default confs
(``/root/reference/README.rst:56-68``); we pin the confs that matter
for determinism (session timezone) and for scale (AQE, shuffle
partitions sized to the cluster, Arrow transfer for the few pandas
paths).

The call that launches the driver JVM also fixes what only a launch
can (:func:`_launch`): the in-process local filesystem
(``jvm/NioLocalFileSystem.java``, built into a jar) on the classpath,
and an AppCDS class-data archive of the classes a session loads,
dumped once per checkout into ``.build/`` from ``jvm/cds_exercise.py``
and mapped by every later launch, so the JVM starts and warms up in
about half the time.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# InferFiltersFromGenerate inserts `size(G)>0 AND isnotnull(G)` above
# every explode, and predicate pushdown then re-inlines G through the
# producing projections.  When G is a computed array (shingles, hash
# signatures) the whole construction is re-evaluated 2× per input row
# in the scan filter — measured 8× slowdown on the shingle index
# build.  The engine always pre-filters explode inputs explicitly
# (e.g. `word_count >= n`), so the inferred filter only costs.
_EXCLUDED_OPT_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


_PACKAGE = os.path.dirname(os.path.abspath(__file__))
_NIO_FS_SOURCE = os.path.join(_PACKAGE, "jvm", "NioLocalFileSystem.java")
# the fixed workload the driver JVM's class-data archive is dumped from
_CDS_EXERCISE = os.path.join(_PACKAGE, "jvm", "cds_exercise.py")
_NIO_FS_JAR = "NioLocalFileSystem.jar"
_CDS_ARCHIVE = "driver.jsa"
# compiled JVM helpers live in the checkout, next to .scratch
BUILD_ROOT = os.path.join(os.path.dirname(_PACKAGE), ".build")


def _nio_fs_jar() -> str | None:
    """Jar of ``jvm/NioLocalFileSystem.java``, compiled once per digest
    of the source and the Hadoop API jar it compiles against
    (``layout.materialize``: atomic publish, superseded digests
    reaped) and packed with ``zipfile`` (a jar, not a class directory:
    the JVM dumps no class-data archive with a non-empty directory on
    its classpath); None, with one line on stderr, where it cannot be
    built (no ``javac``, a build root it cannot write)."""
    import glob
    import hashlib
    import shutil
    import subprocess
    import tempfile
    import zipfile

    from pyspark.find_spark_home import _find_spark_home

    from .sources import layout

    javac = shutil.which("javac")
    hadoop = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    why = "no javac" if not javac else "no hadoop-client-api jar" if not hadoop else None
    if why is None:
        with open(_NIO_FS_SOURCE, "rb") as fh:
            # b"jar": a directory published as classes, not as a jar, is superseded
            digest = hashlib.md5(fh.read() + os.path.basename(hadoop[-1]).encode() + b"jar").hexdigest()

        def build(tmp: str) -> None:
            os.makedirs(tmp)
            with tempfile.TemporaryDirectory(dir=tmp) as classes:
                subprocess.run(
                    [javac, "--release", "17", "-d", classes, "-cp", hadoop[-1], _NIO_FS_SOURCE],
                    check=True, capture_output=True, text=True,
                )
                with zipfile.ZipFile(os.path.join(tmp, _NIO_FS_JAR), "w", zipfile.ZIP_DEFLATED) as jar:
                    for root, _, files in os.walk(classes):
                        for f in sorted(files):
                            jar.write(os.path.join(root, f), os.path.relpath(os.path.join(root, f), classes))

        try:
            path = layout.materialize(os.path.join(BUILD_ROOT, f"niofs_{digest[:8]}"), build)
            return os.path.join(path, _NIO_FS_JAR)
        except subprocess.CalledProcessError as e:
            why = f"javac exited {e.returncode}"
        except OSError as e:
            why = str(e)
    print(f"spark-graft: {why}; local files go through Hadoop's own filesystem", file=sys.stderr)
    return None


def _launch_conf_dir() -> str | None:
    """The ``SPARK_CONF_DIR`` a driver JVM launch uses: an empty
    directory under ``BUILD_ROOT`` in place of an effective conf dir
    that is missing or holds only ``*.template`` files (spark-submit
    and log4j read no template, so the launch is the same; the JVM
    dumps no class-data archive with a non-empty directory on its
    classpath, and the conf dir is on it).  None, with one line on
    stderr, when the conf dir holds a real file: the launch then keeps
    it, and runs without an archive."""
    from pyspark.find_spark_home import _find_spark_home

    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    real = sorted(f for f in os.listdir(conf) if not f.endswith(".template")) if os.path.isdir(conf) else []
    why = f"{conf} holds {real[0]}" if real else None
    if why is None:
        empty = os.path.join(BUILD_ROOT, "spark-conf")
        try:
            os.makedirs(empty, exist_ok=True)
            return empty
        except OSError as e:
            why = str(e)
    print(f"spark-graft: {why}; the driver JVM starts without a class-data archive", file=sys.stderr)
    return None


def _java_home() -> str:
    """The java runtime spark-submit launches: ``$JAVA_HOME`` or the
    ``java`` on ``PATH`` (``bin/spark-class``)."""
    import shutil

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java or "java")))


def _cds_dir(jar: str) -> str:
    """``BUILD_ROOT/cds_<digest8>``: the archive's directory, keyed by
    the java runtime, Spark's jars and the shim ``jar`` (path, size,
    mtime: what the JVM checks the archive against) and the exercise
    source."""
    import glob
    import hashlib
    import json

    from pyspark.find_spark_home import _find_spark_home

    home = _java_home()
    key = []
    for p in [jar, os.path.join(home, "release"), os.path.join(home, "lib", "modules")] + sorted(
        glob.glob(os.path.join(_find_spark_home(), "jars", "*.jar"))
    ):
        st = os.stat(p)
        key.append([p, st.st_size, st.st_mtime_ns])
    with open(_CDS_EXERCISE, "rb") as fh:
        digest = hashlib.md5(json.dumps(key).encode() + fh.read()).hexdigest()
    return os.path.join(BUILD_ROOT, f"cds_{digest[:8]}")


def _cds_archive(jar: str) -> str | None:
    """The driver JVM's AppCDS archive (``-XX:SharedArchiveFile``),
    dumped once per :func:`_cds_dir` through ``layout.materialize``.

    The build runs ``jvm/cds_exercise.py`` in one child process
    (:func:`_dump_archive`) and checks the dump with ``-Xshare:on``
    before it is published: the JVM does not refuse a truncated
    archive, it dies of SIGBUS mapping it.  A build that fails
    publishes its reason instead of an archive, so later launches do
    not pay for it again (remove the directory to retry).  An archive
    whose size is not the one recorded at its build is discarded (the
    next launch rebuilds it), never mapped.  None, with one line on
    stderr, in every case without a usable archive."""
    import json
    import subprocess

    from .sources import layout

    def build(tmp: str) -> dict:
        os.makedirs(tmp)
        out = os.path.join(tmp, _CDS_ARCHIVE)
        try:
            return {"size": _dump_archive(out)}
        except (OSError, LookupError, ValueError, RuntimeError, subprocess.SubprocessError) as e:
            if os.path.exists(out):
                os.remove(out)
            return {"error": str(e) or type(e).__name__}

    try:
        path = layout.materialize(_cds_dir(jar), build)
        archive = os.path.join(path, _CDS_ARCHIVE)
        with open(os.path.join(path, layout._META)) as fh:
            meta = json.load(fh)
        size = os.path.getsize(archive) if os.path.exists(archive) else None
    except (OSError, ValueError) as e:
        why = str(e)
    else:
        if "error" in meta:
            why = f"its build failed ({meta['error']}; remove {path} to retry)"
        elif size == meta.get("size"):
            return archive
        else:
            layout.discard(path)
            why = f"{archive} is {size} bytes, not {meta.get('size')}: discarded, the next launch rebuilds it"
    print(f"spark-graft: class-data archive: {why}; the driver JVM starts without one", file=sys.stderr)
    return None


def _dump_archive(out: str) -> int:
    """Run the exercise in one child process that dumps the driver
    JVM's class-data archive to ``out`` and waits for its JVM to exit;
    check the archive with ``-Xshare:on`` (which fails where
    ``-Xshare:auto`` would crash or skip it); return its size."""
    import json
    import signal
    import subprocess

    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [os.path.dirname(_PACKAGE), env.get("PYTHONPATH")]))
    child = subprocess.Popen(
        [sys.executable, _CDS_EXERCISE, out], env=env, start_new_session=True,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    try:
        stdout, stderr = child.communicate(timeout=900)
    finally:
        if child.poll() is None:  # timed out: its JVM is in its session too
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
    if child.returncode:
        raise RuntimeError(f"the exercise exited {child.returncode}{_last_line(stderr)}")
    lines = stdout.strip().splitlines()
    if not lines:
        raise RuntimeError("the exercise reported no JVM")
    jvm = json.loads(lines[-1])
    check = subprocess.run(
        [os.path.join(jvm["java_home"], "bin", "java"), "-Xshare:on", f"-XX:SharedArchiveFile={out}"]
        + [a for a in jvm["args"] if not a.startswith("-XX:ArchiveClassesAtExit")]
        + ["-cp", jvm["class_path"], "-version"],
        capture_output=True, text=True, timeout=120,
    )
    if check.returncode:
        raise RuntimeError(f"the archive failed its -Xshare:on check{_last_line(check.stdout + check.stderr)}")
    return os.path.getsize(out)


def _last_line(text: str) -> str:
    lines = text.strip().splitlines()
    return f": {lines[-1][:300]}" if lines else ""


def _archive_option(jar: str) -> str | None:
    """The JVM option for the class-data archive of a launch with the
    shim ``jar``, if there is one.  ``jvm/cds_exercise.py`` puts the
    dump flag in its place, so the dump run launches through
    :func:`get_spark` itself: its classpath and heap flags are the ones
    the archive is later mapped with, as the JVM requires."""
    archive = _cds_archive(jar)
    return f"-XX:SharedArchiveFile={archive}" if archive else None


def _launch(builder: SparkSession.Builder) -> SparkSession:
    """Launch the driver JVM for ``builder``: the shim jar goes on the
    classpath and is bound for ``file:``; ``SPARK_CONF_DIR`` is
    :func:`_launch_conf_dir` for the launch only (the caller's
    environment is restored); with both, :func:`_archive_option` is
    the JVM option for the class-data archive."""
    jar = _nio_fs_jar()
    conf_dir = _launch_conf_dir() if jar else None
    option = _archive_option(jar) if conf_dir else None
    if jar:
        builder = (
            builder.config("spark.driver.extraClassPath", jar)
            .config("spark.hadoop.fs.file.impl", "sparkgraft.NioLocalFileSystem")
            .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "sparkgraft.NioLocalFileSystem$Fs")
        )
    if option:
        builder = builder.config("spark.driver.extraJavaOptions", option)
    saved = os.environ.get("SPARK_CONF_DIR")
    if conf_dir:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def get_spark(
    app_name: str = "dea-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    On a real cluster the ``master`` is supplied externally; here we
    default to ``local[$SPARK_GRAFT_CPUS]``.  All settings are also
    safe at 1000-executor scale: AQE coalesces / skew-splits at
    runtime, so ``shuffle.partitions`` is an upper bound, not a tuning
    knob to get exactly right.

    When this call launches the JVM (:func:`_launch`):

    - Hadoop's local filesystem is swapped for
      ``jvm/NioLocalFileSystem.java`` (compiled into a jar on first
      use, see :func:`_nio_fs_jar`), which sets permissions and
      reads links in-process instead of forking ``chmod``/``readlink``
      per file.
    - The JVM maps the class-data archive of :func:`_cds_archive`
      (``-XX:SharedArchiveFile``; dumped once per checkout, ~1 min on
      first use), so the classes of Spark and of the engine's common
      paths load from one mapped file instead of ~290 jars: start-up
      and the first queries take about half the time.  Without the
      shim, with a real file in the conf dir or without a usable
      archive, one stderr line says so and the JVM starts as it would
      without one; a JVM that finds the archive does not match its
      classpath warns and runs without it.

    Both need flags fixed at launch, so a session on a JVM that is
    already running keeps Hadoop's own filesystem and sets neither.
    """
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # keep \r progress-bar junk out of captured stdout (the bench
        # driver parses a bounded tail of it)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.optimizer.excludedRules", _EXCLUDED_OPT_RULES)
        # exploit sortBy order of bucketed layouts (one file per
        # bucket — Spark self-checks and ignores the flag otherwise):
        # removes the per-partition |E| sort in SMJs against the
        # trade-edge layout (plans/analytics.py:_trade_edges)
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()
    return _launch(builder)


def ensure_deterministic_session(spark: SparkSession) -> SparkSession:
    """Pin runtime confs that affect query *results* (not just speed).

    Applied by ``registry.query`` to every builder, before each build,
    so results are identical whether the session came from
    :func:`get_spark` or was handed to us by an external driver.
    ``spark.sql.session.timeZone`` is a runtime conf, so this is safe
    on a live session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Pin result-affecting dialect confs to the values every local
    # verification ran under, in case the external session was built
    # with different defaults: ANSI mode changes invalid-cast /
    # overflow semantics (error vs NULL), the parser policy changes
    # how datetime patterns resolve.  Both are runtime confs.
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.legacy.timeParserPolicy", "CORRECTED")
    # Results-neutral perf confs (see get_spark): applied here too so
    # externally-created sessions (the driver's) get them.
    spark.conf.set("spark.sql.optimizer.excludedRules", _EXCLUDED_OPT_RULES)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, conf: Mapping[str, object]) -> Iterator[None]:
    """Set runtime confs for the body of a ``with`` block, then restore
    each to its previous value (or unset it if it was unset).

    Used for confs a streaming query reads once at ``.start()``
    (``spark.sql.shuffle.partitions`` = state shards,
    ``spark.sql.streaming.noDataMicroBatches.enabled``): the query
    clones the session conf when it starts, so the scope only needs
    to wrap the start call.

    SERIAL-EXECUTION ASSUMPTION: the conf is session-global, so a
    BATCH query planned concurrently inside the ``with`` block from
    another driver thread would pick up the scoped values.  Every
    in-repo call site runs queries serially (replay/pytest/perfbench
    execute one op at a time), and the window is a few hundred ms
    around ``.start()``.  If the engine ever gains a concurrent
    driver, move the scope to per-query options where Spark has them
    or to a dedicated session clone for streaming starts."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of ``df``, a frame returned by
    ``localCheckpoint``: its checkpoint RDD is the analyzed plan's
    RDD.  Spark frees such blocks only when JVM GC lets its
    ContextCleaner collect the RDD, so a loop that checkpoints every
    round otherwise holds one state per round for the session's life.
    Release a frame only once nothing live still reads it: a later
    read fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` (never with
    wrong rows).  ``operators.graph.fixpoint`` is its caller."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)
