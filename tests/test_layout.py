"""Storage-layout guarantees: bucketed joins are shuffle-free,
partitioned layouts prune at the directory level."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from data_engineering_assessment_spark.sources import layout
from data_engineering_assessment_spark.sources.layout import write_partitioned
from data_engineering_assessment_spark.sources.tables import load_table
from tests.conftest import FAILING_COMMITTER, SF_DIR


def test_bucketed_join_has_no_exchange(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(layout, "SCRATCH_ROOT", str(tmp_path))
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    li_b, _ = layout.scratch_bucketed_table(
        spark, "t_li_bucketed", SF_DIR, lambda: li, key="l_orderkey", n_buckets=4,
        schema_sql="l_orderkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE",
    )
    ord_b, _ = layout.scratch_bucketed_table(
        spark, "t_ord_bucketed", SF_DIR, lambda: orders, key="l_orderkey", n_buckets=4,
        schema_sql="l_orderkey BIGINT, o_totalprice DOUBLE",
    )

    joined = li_b.hint("merge").join(ord_b.hint("merge"), "l_orderkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join must not shuffle"

    # and it computes the right thing
    expected = li.join(orders, "l_orderkey").count()
    assert joined.count() == expected


def test_partitioned_layout_prunes(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "events_parted")
    write_partitioned(ev, path, partition_by="event_type", sort_within="ts")

    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "event_type" in plan.split("PartitionFilters:")[1].splitlines()[0]

    n_click = ev.filter(F.col("event_type") == "click").count()
    assert back.count() == n_click


def test_upsert_unpartitioned(spark, tmp_path):
    from data_engineering_assessment_spark.sources.upsert import upsert_parquet

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "val"]
    )
    upsert_parquet(spark, base, path, "id")
    updates = spark.createDataFrame([(2, "B"), (4, "d")], ["id", "val"])
    upsert_parquet(spark, updates, path, "id")
    got = {(r.id, r.val) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}


def test_upsert_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    import glob
    import os

    from data_engineering_assessment_spark.sources.upsert import upsert_parquet

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-01", "b"), (3, "2024-01-02", "c")],
        ["id", "day", "val"],
    )
    upsert_parquet(spark, base, path, "id", partition_by="day")
    untouched = sorted(glob.glob(f"{path}/day=2024-01-02/*.parquet"))
    mtimes_before = [os.path.getmtime(p) for p in untouched]

    updates = spark.createDataFrame(
        [(2, "2024-01-01", "B"), (9, "2024-01-01", "z")], ["id", "day", "val"]
    )
    upsert_parquet(spark, updates, path, "id", partition_by="day")

    # partition values are type-inferred on read (here: DATE)
    got = {(r.id, str(r.day), r.val) for r in spark.read.parquet(path).collect()}
    assert got == {
        (1, "2024-01-01", "a"), (2, "2024-01-01", "B"),
        (9, "2024-01-01", "z"), (3, "2024-01-02", "c"),
    }
    # untouched partition files were not rewritten
    after = sorted(glob.glob(f"{path}/day=2024-01-02/*.parquet"))
    assert after == untouched
    assert [os.path.getmtime(p) for p in after] == mtimes_before


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    import glob

    from data_engineering_assessment_spark.sources.layout import compact_parquet

    path = str(tmp_path / "many")
    spark.range(10_000).repartition(64).write.parquet(path)
    before = len(glob.glob(f"{path}/*.parquet"))
    assert before == 64

    n_out = compact_parquet(spark, path, target_mb=128)
    after = glob.glob(f"{path}/*.parquet")
    assert len(after) == n_out < before
    got = spark.read.parquet(path)
    assert got.count() == 10_000
    assert got.agg(F.sum("id")).collect()[0][0] == sum(range(10_000))


def test_zorder_interleave_known_bits(spark):
    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources.layout import zorder_value

    df = spark.createDataFrame([(0b101, 0b011)], "x int, y int")
    got = df.select(
        zorder_value([F.col("x"), F.col("y")], bits=3).alias("z")
    ).first().z
    # bit b of col i lands at position b*2 + i:
    # x=101 -> positions 0,4 ; y=011 -> positions 1,3
    assert got == (1 << 0) | (1 << 4) | (1 << 1) | (1 << 3)


def _files_overlapping(path, col, lo, hi):
    """Count parquet files whose footer min/max for `col` intersects
    [lo, hi] — exactly the pruning decision a scan makes."""
    import glob

    import pyarrow.parquet as pq

    hit = 0
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        mn = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        mx = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        if mx >= lo and mn <= hi:
            hit += 1
    return hit


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    from data_engineering_assessment_spark.sources.layout import write_zordered

    n = 128
    grid = spark.range(n * n).selectExpr(
        "CAST(id % 128 AS INT) AS x", "CAST(id DIV 128 AS INT) AS y", "id AS payload"
    )

    linear = str(tmp_path / "rowmajor")
    grid.repartitionByRange(16, "y", "x").sortWithinPartitions("y", "x").write.parquet(linear)
    zpath = str(tmp_path / "zorder")
    write_zordered(grid, zpath, ["x", "y"], bits=7, n_files=16)

    # row-major: y prunes perfectly, x not at all
    assert _files_overlapping(linear, "x", 0, 15) == 16
    # z-order: a one-sided box on EITHER dimension touches ~sqrt of the
    # files (16 files = 4x4 tiles of 32x32 -> one tile row/column)
    zx = _files_overlapping(zpath, "x", 0, 15)
    zy = _files_overlapping(zpath, "y", 0, 15)
    assert zx <= 6, zx
    assert zy <= 6, zy
    # and the data survives intact
    assert spark.read.parquet(zpath).count() == n * n


def test_resolve_url_schemes(tmp_path):
    from data_engineering_assessment_spark.sources.remote import resolve_url

    # local + hadoop-native schemes pass through
    assert resolve_url("/data/x.csv") == "/data/x.csv"
    assert resolve_url("file:/data/x.csv") == "file:/data/x.csv"
    assert resolve_url("hdfs://nn/x.csv") == "hdfs://nn/x.csv"
    # smart_open object-store spellings normalize to Hadoop connectors
    assert resolve_url("s3://bucket/k.parquet") == "s3a://bucket/k.parquet"
    assert resolve_url("s3n://bucket/k") == "s3a://bucket/k"
    assert resolve_url("gs://bucket/k") == "gs://bucket/k"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        resolve_url("ftp://host/x")


def test_resolve_url_stages_http_like_stream(tmp_path, monkeypatch):
    """Simulate the http(s) staging path without a network: patch the
    opener with a local byte stream and check chunked staging +
    idempotence."""
    import io

    import data_engineering_assessment_spark.sources.remote as remote

    payload = b"h,e,a,d\n1,2,3,4\n" * 1000
    calls = {"n": 0}

    def fake_urlopen(url):
        calls["n"] += 1
        return io.BytesIO(payload)

    monkeypatch.setattr(remote.urllib.request, "urlopen", fake_urlopen)
    staged = remote.resolve_url("https://example.org/data/taxi.csv",
                                staging_dir=str(tmp_path))
    assert open(staged, "rb").read() == payload
    assert staged == str(tmp_path / "taxi.csv")
    # second resolve is a no-op (idempotent by basename)
    again = remote.resolve_url("https://example.org/data/taxi.csv",
                               staging_dir=str(tmp_path))
    assert again == staged and calls["n"] == 1


def test_compact_parquet_survives_mid_swap_crash(spark, tmp_path):
    """Crash injection for the version swap: kill the flip between
    'retire old dir' and 'link new version' — the worst moment — and
    assert the dataset stays fully readable via dataset_path()."""
    import glob

    from data_engineering_assessment_spark.sources import layout

    path = str(tmp_path / "ds")
    spark.range(5_000).repartition(16).write.parquet(path)

    real_replace = os.replace
    calls = {"n": 0}

    def crashing_replace(src, dst):
        if src.endswith(".lnk"):
            calls["n"] += 1
            raise OSError("injected crash mid-swap")
        return real_replace(src, dst)

    layout.os.replace = crashing_replace
    try:
        with pytest.raises(OSError, match="injected"):
            layout.compact_parquet(spark, path, target_mb=128)
    finally:
        layout.os.replace = real_replace

    assert calls["n"] == 1
    # mid-swap state: path gone, old data in .v0, new version complete
    assert not os.path.lexists(path)
    # recovery re-links to the newest complete version; data intact
    layout.dataset_path(path)
    got = spark.read.parquet(path)
    assert got.count() == 5_000
    assert got.agg(F.sum("id")).collect()[0][0] == sum(range(5_000))

    # a subsequent compaction on the recovered dataset works and is
    # atomic from here on (path is now a symlink)
    layout.compact_parquet(spark, path, target_mb=128)
    assert os.path.islink(path)
    assert spark.read.parquet(path).count() == 5_000


def test_upsert_records_the_schema_a_read_infers(spark, tmp_path):
    """The schema the upsert records for a version it published equals
    the one Spark infers from that version's files, so reading it with
    the recorded schema (no inference job) reads the same table."""
    from data_engineering_assessment_spark.sources import upsert

    path = str(tmp_path / "t")
    rows = spark.sql(
        "SELECT id, CAST(id AS DECIMAL(12, 2)) AS amount, 'x' AS s, "
        "timestamp'2024-03-01 10:00:00' + make_interval(0, 0, 0, 0, 0, id) AS ts, "
        "timestamp_ntz'2024-03-01 10:00:00' AS ts_ntz, "
        "array(named_struct('k', id, 'v', 'a')) AS arr, map('k', id) AS m "
        "FROM range(4)"
    )
    assert not rows.schema["id"].nullable  # written non-nullable, read nullable
    upsert.upsert_parquet(spark, rows.where("id < 3"), path, "id")
    assert upsert._SCHEMAS[upsert._version_key(path)] == spark.read.parquet(path).schema
    upsert.upsert_parquet(spark, rows.where("id >= 2"), path, "id")
    recorded = upsert._SCHEMAS[upsert._version_key(path)]
    assert recorded == spark.read.parquet(path).schema
    got = spark.read.schema(recorded).parquet(path)
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3]


def test_upsert_infers_a_version_it_did_not_publish(spark, tmp_path):
    """A target version written by another writer, here with a column
    the updates lack, is inferred, so the merge fails loudly instead of
    reading it with the recorded schema and dropping that column."""
    from pyspark.errors import AnalysisException

    from data_engineering_assessment_spark.sources.upsert import upsert_parquet

    path = str(tmp_path / "t")
    upsert_parquet(spark, spark.range(3), path, "id")
    layout.publish_version(path, spark.range(3).withColumn("extra", F.lit(1)).write.parquet)
    with pytest.raises(AnalysisException):
        upsert_parquet(spark, spark.range(2, 5), path, "id")
    assert spark.read.parquet(path).columns == ["id", "extra"]


def _failing_upsert(spark, updates, path):
    from data_engineering_assessment_spark.sources.upsert import upsert_parquet

    spark.conf.set(*FAILING_COMMITTER)
    try:
        with pytest.raises(Exception):
            upsert_parquet(spark, updates, path, "id")
    finally:
        spark.conf.unset(FAILING_COMMITTER[0])


def test_failed_upsert_keeps_target(spark, tmp_path):
    """An upsert whose write fails leaves the target readable with
    every row it had: the merge is written beside the target and only
    a complete write is published."""
    from data_engineering_assessment_spark.sources.upsert import upsert_parquet

    path = str(tmp_path / "t")
    upsert_parquet(spark, spark.range(100), path, "id")
    _failing_upsert(spark, spark.range(90, 110), path)
    got = spark.read.parquet(path)
    assert got.count() == 100
    assert got.agg(F.sum("id")).collect()[0][0] == sum(range(100))


def test_partial_first_version_is_never_published(spark, tmp_path):
    """A first publication whose write fails half-way leaves a partial
    ``.v1`` and no link to it: the dataset does not exist, and the next
    upsert creates it from its own rows and deletes the partial one."""
    from data_engineering_assessment_spark.sources.upsert import upsert_parquet

    path = str(tmp_path / "t")

    def half_write(new_dir):
        spark.range(5).write.parquet(new_dir)
        raise OSError("injected crash after a partial write")

    with pytest.raises(OSError, match="injected"):
        layout.publish_version(path, half_write)
    assert not os.path.lexists(path)
    with pytest.raises(FileNotFoundError):
        layout.dataset_path(path)
    upsert_parquet(spark, spark.range(10, 20), path, "id")
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(10, 20))
    assert [d for _, d in layout._versions(path)] == [f"{path}.v2"]


def test_minmax_index_actually_skips_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources.layout import (
        build_minmax_index,
        pruned_read,
        write_range_chunked,
    )

    df = spark.range(0, 10000).withColumnRenamed("id", "k")
    path = str(tmp_path / "chunked")
    write_range_chunked(df, path, key="k", n_files=8)
    index = build_minmax_index(path, "k")
    assert len(index) >= 4  # layout produced several files
    # ranges are disjoint (range-partitioned): sorted mins < next min
    spans = sorted((mn, mx) for _, mn, mx in index)
    for (mn1, mx1), (mn2, _) in zip(spans, spans[1:]):
        assert mx1 < mn2
    lo, hi = 1000, 1999
    picked = [f for f, mn, mx in index if mx >= lo and mn <= hi]
    assert 0 < len(picked) < len(index)  # skipping really happened
    got = pruned_read(spark, picked).filter(F.col("k").between(lo, hi)).count()
    assert got == 1000


def test_bloom_index_skips_files_and_loses_nothing(spark):
    """The Bloom file index must actually skip files for point probes
    on a column the range layout can't prune (false positives allowed,
    false negatives never)."""
    import os

    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources.layout import (
        bloom_probe_files,
        build_bloom_index,
        write_range_chunked,
    )
    from data_engineering_assessment_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    path = f"{layout.SCRATCH_ROOT}/bloom_test_unit"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_range_chunked(
            load_table(spark, SF_DIR, "orders"), path, key="o_orderkey", n_files=16
        )
    index = build_bloom_index(spark, path, "o_custkey")
    assert len(index) == 16
    probe = [7]
    picked = bloom_probe_files(index, spark, probe, "o_custkey")
    assert len(picked) < 16, "bloom index pruned nothing"
    # no false negatives: every file truly containing the key survives
    truth = (
        spark.read.parquet(path)
        .filter(F.col("o_custkey").isin(probe))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    assert {r.f for r in truth} <= set(picked)


def test_versioned_scratch_tag_tracks_code_and_corpus(tmp_path):
    """A materialized layout's tag must change when either the corpus
    path OR the source of the function that writes the layout changes
    (the round-4 hazard: a code edit silently serving a stale layout),
    and must be stable when neither does."""
    from data_engineering_assessment_spark.sources.layout import (
        clean_superseded,
        versioned_scratch_tag,
    )

    def writer_v1():
        return "partition_by=month"

    def writer_v2():
        return "partition_by=day"  # changed layout expression

    t1 = versioned_scratch_tag("/corpus/a", writer_v1)
    assert t1 == versioned_scratch_tag("/corpus/a", writer_v1)  # stable
    assert t1 != versioned_scratch_tag("/corpus/a", writer_v2)  # code bump
    assert t1 != versioned_scratch_tag("/corpus/b", writer_v1)  # corpus bump

    # superseded sibling layouts are deleted, the live one is kept
    live = tmp_path / f"orders_dpp_{t1}"
    stale = tmp_path / "orders_dpp_deadbeef"
    other = tmp_path / "orders_bymonth_cafe0000"
    for d in (live, stale, other):
        d.mkdir()
        (d / "_SUCCESS").touch()
    clean_superseded(str(live))
    assert live.exists()
    assert not stale.exists()
    assert other.exists()  # different layout family is untouched


@pytest.mark.parametrize(
    "live, stale",
    [
        ("orders_dpp_0123abcd", "orders_dpp_deadbeef"),
        ("stream_loj_0123abcd4567ef01", "stream_loj_deadbeefdeadbeef"),
        ("edges_w_abc123_0123abcd", "edges_w_abc123_deadbeef"),
    ],
)
def test_materialize_reaps_superseded_siblings(tmp_path, live, stale):
    """Every tag shape in use (8 hex, two 8-hex digests, corpus6 +
    tag8) has its stale sibling removed when the live one
    materializes; a family that only extends the name, and another
    corpus's layout of the same family, are kept."""
    kept = [f"{live.rsplit('_', 1)[0]}_ckpt_deadbeef", "edges_w_fedcba_deadbeef"]
    for name in [stale] + kept:
        (tmp_path / name).mkdir()
        (tmp_path / name / "part-0.parquet").write_bytes(b"x")

    def write(tmp):
        os.makedirs(tmp)
        return {"built": True}

    path = str(tmp_path / live)
    assert layout.materialize(path, write) == path
    assert not (tmp_path / stale).exists()
    assert all((tmp_path / name).exists() for name in kept)
    assert sorted(os.listdir(path)) == ["_scratch_meta.json"]
    assert layout.materialize(path, lambda tmp: pytest.fail("rebuilt")) == path


def test_scratch_bucketed_table_recovery_and_reaper(spark, tmp_path):
    """scratch_bucketed_table (round 12) edge cases: (a) a build
    interrupted between the table write and the sidecar meta write
    (meta IS the completion marker) is rebuilt cleanly on the next
    call; (b) sibling families whose source corpus no longer exists
    (planted-test tmp dirs) are reaped; (c) build-time stats ride the
    meta and are served without recomputation."""
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources.layout import (
        scratch_bucketed_table,
    )

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )

    kw = dict(
        key="k", n_buckets=4, schema_sql="k BIGINT, v BIGINT",
        stats=lambda t: {"n_rows": t.count()},
    )
    t1, m1 = scratch_bucketed_table(spark, "t_sbt", str(tmp_path), build, **kw)
    assert calls["n"] == 1 and m1["n_rows"] == 100 and t1.count() == 100
    # in-session second call: no rebuild, stats from meta
    _, m2 = scratch_bucketed_table(spark, "t_sbt", str(tmp_path), build, **kw)
    assert calls["n"] == 1 and m2 == m1

    # locate the layout dir via the meta it wrote
    import glob

    [meta_p] = [
        mp for mp in glob.glob(f"{layout.SCRATCH_ROOT}/t_sbt_*/_scratch_meta.json")
        if json.load(open(mp)).get("src") == str(tmp_path)
    ]
    path = os.path.dirname(meta_p)

    # (a) crash between table write and meta write: meta missing,
    # files present, catalog entry possibly stale -> full rebuild
    os.remove(meta_p)
    spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(path)}")
    t3, m3 = scratch_bucketed_table(spark, "t_sbt", str(tmp_path), build, **kw)
    assert calls["n"] == 2 and m3["n_rows"] == 100 and t3.count() == 100

    # (b) reaper: plant a sibling family whose src is gone
    dead = f"{layout.SCRATCH_ROOT}/t_sbt_deadbe_0123abcd"
    os.makedirs(dead, exist_ok=True)
    with open(os.path.join(dead, "_scratch_meta.json"), "w") as fh:
        json.dump({"src": str(tmp_path / "gone-corpus")}, fh)
    scratch_bucketed_table(spark, "t_sbt", str(tmp_path), build, **kw)
    assert not os.path.exists(dead)

    shutil.rmtree(path, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(path)}")


def test_scratch_bucketed_table_spec_in_tag(spark, tmp_path):
    """Round-13 ADVICE (medium): the bucket spec (key, n_buckets,
    schema_sql) is part of the layout version tag.  Changing
    n_buckets must produce a DIFFERENT layout path and a fresh build
    — never a re-register of the old files under a new declared
    bucket count, which Spark would trust and silently mis-join."""
    import glob
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources.layout import (
        scratch_bucketed_table,
    )

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(64).select(
            F.col("id").alias("k"), (F.col("id") + 1).alias("v")
        )

    _, _ = scratch_bucketed_table(
        spark, "t_spec", str(tmp_path), build,
        key="k", n_buckets=4, schema_sql="k BIGINT, v BIGINT",
    )
    assert calls["n"] == 1
    # same everything but n_buckets: a fresh path + fresh build, and
    # the declared spec of each catalog table matches its own files
    t8, _ = scratch_bucketed_table(
        spark, "t_spec", str(tmp_path), build,
        key="k", n_buckets=8, schema_sql="k BIGINT, v BIGINT",
    )
    assert calls["n"] == 2 and t8.count() == 64
    for mp in glob.glob(f"{layout.SCRATCH_ROOT}/t_spec_*/_scratch_meta.json"):
        if json.load(open(mp)).get("src") == str(tmp_path):
            d = os.path.dirname(mp)
            spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(d)}")
            shutil.rmtree(d, ignore_errors=True)


def test_scratch_bucketed_table_track_src(spark, tmp_path):
    """Round-13 ADVICE (low): track_src=True layouts are pure caches
    of live corpus derivatives — regenerating a corpus parquet in
    place must trigger a rebuild.  track_src=False (fixed-model
    incremental indexes) must NOT rebuild on the same mutation."""
    import glob
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources.layout import (
        scratch_bucketed_table,
    )

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    spark.range(10).write.mode("overwrite").parquet(str(corpus / "t.parquet"))

    calls = {"tracked": 0, "fixed": 0}

    def build_tracked():
        calls["tracked"] += 1
        return spark.read.parquet(str(corpus / "t.parquet")).select(
            F.col("id").alias("k")
        )

    def build_fixed():
        calls["fixed"] += 1
        return spark.read.parquet(str(corpus / "t.parquet")).select(
            F.col("id").alias("k")
        )

    kw = dict(key="k", n_buckets=2, schema_sql="k BIGINT")
    scratch_bucketed_table(
        spark, "t_trk", str(corpus), build_tracked, track_src=True, **kw
    )
    scratch_bucketed_table(spark, "t_fix", str(corpus), build_fixed, **kw)
    assert calls == {"tracked": 1, "fixed": 1}

    # regenerate the corpus in place (different size => fingerprint
    # change even on coarse-mtime filesystems)
    spark.range(500).write.mode("overwrite").parquet(str(corpus / "t.parquet"))

    t, _ = scratch_bucketed_table(
        spark, "t_trk", str(corpus), build_tracked, track_src=True, **kw
    )
    assert calls["tracked"] == 2 and t.count() == 500  # rebuilt on live data
    t, _ = scratch_bucketed_table(spark, "t_fix", str(corpus), build_fixed, **kw)
    assert calls["fixed"] == 1 and t.count() == 10  # fixed-model: untouched

    for fam in ("t_trk", "t_fix"):
        for mp in glob.glob(f"{layout.SCRATCH_ROOT}/{fam}_*/_scratch_meta.json"):
            if json.load(open(mp)).get("src") == str(corpus):
                d = os.path.dirname(mp)
                spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(d)}")
                shutil.rmtree(d, ignore_errors=True)


def test_scratch_bucketed_table_atomic_no_temp_leftovers(spark, tmp_path):
    """Round-13 ADVICE (low): builds land in a sibling temp dir and
    are renamed into place atomically — after any successful build no
    ``.b<pid>`` temp dirs remain, and the final dir carries its meta
    (the completion marker) so a reader can never observe a
    half-written layout at the published path."""
    import glob
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources.layout import (
        scratch_bucketed_table,
    )

    def build():
        return spark.range(16).select(F.col("id").alias("k"))

    _, _ = scratch_bucketed_table(
        spark, "t_atom", str(tmp_path), build,
        key="k", n_buckets=2, schema_sql="k BIGINT",
    )
    assert glob.glob(f"{layout.SCRATCH_ROOT}/t_atom_*.b*") == []
    for mp in glob.glob(f"{layout.SCRATCH_ROOT}/t_atom_*/_scratch_meta.json"):
        if json.load(open(mp)).get("src") == str(tmp_path):
            d = os.path.dirname(mp)
            assert os.path.exists(mp)  # meta present at publish point
            spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(d)}")
            shutil.rmtree(d, ignore_errors=True)


def test_corpus_fingerprint_recurses_into_parquet_dirs(spark, tmp_path):
    """Round-14 ADVICE (low): a Spark-written corpus table is a
    DIRECTORY; rewriting a part file in place under the same name can
    leave the directory inode's own size/mtime unchanged, so the
    fingerprint must cover the contained data files, not the
    top-level entry."""
    import os

    from data_engineering_assessment_spark.sources.layout import (
        corpus_fingerprint,
    )

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    spark.range(64).coalesce(2).write.parquet(str(corpus / "t.parquet"))
    fp1 = corpus_fingerprint(str(corpus))
    # the fingerprint lists the INNER data files, relative to corpus
    assert any("/" in name and name.endswith(".parquet") for name, _, _ in fp1)

    # "regenerate" one inner part file in place: same name, same
    # bytes, new mtime — exactly the hazard a top-level stat misses
    [part] = [
        os.path.join(r, f)
        for r, _, fs in os.walk(corpus / "t.parquet")
        for f in fs
        if f.endswith(".parquet")
    ][:1]
    os.utime(part, ns=(1, 1))
    fp2 = corpus_fingerprint(str(corpus))
    assert fp2 != fp1


def test_scratch_rename_failure_surfaces(spark, tmp_path, monkeypatch):
    """Round-14 ADVICE (low): only the lost-the-race rename failure
    (a concurrent winner's meta already at the target) is swallowed;
    any other rename failure must raise HERE, not as an unrelated
    FileNotFoundError at the later meta read."""
    import errno
    import os

    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources.layout import (
        scratch_bucketed_table,
    )

    def build():
        return spark.range(8).select(F.col("id").alias("k"))

    real_rename = os.rename

    def deny_rename(src, dst):
        if f"{layout.SCRATCH_ROOT}/t_rfail_" in str(dst):
            raise OSError(errno.EACCES, "permission denied", str(dst))
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", deny_rename)
    with pytest.raises(OSError):
        scratch_bucketed_table(
            spark, "t_rfail", str(tmp_path), build,
            key="k", n_buckets=2, schema_sql="k BIGINT",
        )
    monkeypatch.undo()

    # clean the orphaned temp dir the denied rename left behind
    import glob
    import shutil

    for p in glob.glob(f"{layout.SCRATCH_ROOT}/t_rfail_*"):
        shutil.rmtree(p, ignore_errors=True)


def test_scratch_toctou_recheck_preserves_concurrent_winner(
    spark, tmp_path, monkeypatch
):
    """Round-14 ADVICE (low): a concurrent builder that publishes a
    COMPLETE layout between the outer meta check and the
    interrupted-build rmtree must not have its files deleted and
    rebuilt — the meta check is repeated immediately before the
    rmtree, so the winner's layout is adopted as-is."""
    import glob
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources import layout

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(32).select(F.col("id").alias("k"))

    kw = dict(key="k", n_buckets=2, schema_sql="k BIGINT")
    t, _ = layout.scratch_bucketed_table(
        spark, "t_race", str(tmp_path), build, **kw
    )
    assert calls["n"] == 1 and t.count() == 32
    [meta_p] = [
        mp for mp in glob.glob(f"{layout.SCRATCH_ROOT}/t_race_*/_scratch_meta.json")
        if json.load(open(mp)).get("src") == str(tmp_path)
    ]
    path = os.path.dirname(meta_p)

    # simulate: layout absent at the OUTER check, then a concurrent
    # winner publishes the complete layout during clean_superseded
    backup = str(tmp_path / "winner_backup")
    shutil.copytree(path, backup)
    shutil.rmtree(path)
    spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(path)}")

    real_clean = layout.clean_superseded

    def publish_winner_then_clean(p):
        shutil.copytree(backup, path)
        return real_clean(p)

    monkeypatch.setattr(layout, "clean_superseded", publish_winner_then_clean)
    t2, _ = layout.scratch_bucketed_table(
        spark, "t_race", str(tmp_path), build, **kw
    )
    monkeypatch.undo()
    assert calls["n"] == 1, "winner's layout must be adopted, not rebuilt"
    assert t2.count() == 32

    spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(path)}")
    shutil.rmtree(path, ignore_errors=True)


def test_scratch_root_derived_not_hardcoded(spark, tmp_path, monkeypatch):
    """Round-14 review finding: the orphan-temp reaper hardcoded the
    checkout's absolute ``.scratch`` path while the builder derived its
    paths, so in any other checkout the reaper was a silent no-op.  Both
    must follow one module constant: with SCRATCH_ROOT pointed at a
    tmp dir, the layout lands there, an abandoned stale temp tree is
    reaped there, and (round-14 ADVICE) the age gate reads the NEWEST
    mtime in the tree — a long build whose dir inode is old but whose
    part file is still being written is never raced."""
    import glob
    import json
    import os
    import time

    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources import layout

    root = tmp_path / "scratch-root"
    root.mkdir()
    checkout_scratch = layout.SCRATCH_ROOT
    monkeypatch.setattr(layout, "SCRATCH_ROOT", str(root))
    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)

    # plant two orphan temp trees: one fully stale, one whose dir
    # inode is old but whose inner part file is freshly written
    old = time.time() - 7200
    stale = root / "t_root_aaaaaa_00000000.bdeadbeef"
    live = root / "t_root_aaaaaa_00000000.bcafef00d"
    for d in (stale, live):
        d.mkdir()
        (d / "part-00000.parquet").write_bytes(b"x")
        os.utime(d / "part-00000.parquet", (old, old))
        os.utime(d, (old, old))
    fresh = live / "part-00001.parquet"
    fresh.write_bytes(b"y")
    os.utime(live, (old, old))  # dir inode stays old; inner file is fresh

    def build():
        return spark.range(8).select(F.col("id").alias("k"))

    t, _ = layout.scratch_bucketed_table(
        spark, "t_root", corpus, build,
        key="k", n_buckets=2, schema_sql="k BIGINT",
    )
    assert t.count() == 8
    # the layout landed under the redirected root, nowhere else
    published = [
        os.path.dirname(mp)
        for mp in glob.glob(str(root / "t_root_*/_scratch_meta.json"))
        if json.load(open(mp)).get("src") == corpus
    ]
    assert len(published) == 1
    assert glob.glob(os.path.join(checkout_scratch, "t_root_*")) == []
    # reaper verdicts: stale tree gone, actively-written tree kept
    assert not stale.exists()
    assert live.exists() and fresh.exists()

    spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(published[0])}")


# Keys whose scratch paths were once absolute literals naming a single
# checkout, mapped to the scratch family each writes.
PLAN_SCRATCH_FAMILIES = {
    "scan_stats_prune": "stats_prune",
    "join_dpp_prune": "orders_dpp",
    "merge_upsert": "merge_upsert",
    "stream_left_outer_join": "stream_loj",
}


@pytest.mark.parametrize("key", sorted(PLAN_SCRATCH_FAMILIES))
def test_plan_scratch_follows_scratch_root(spark, tmp_path, monkeypatch, key):
    """Plans name their scratch dirs through ``layout.scratch_path``,
    which reads SCRATCH_ROOT when called: with it pointed at a tmp dir
    the key still matches its oracle, writes its scratch family there,
    and creates nothing under the checkout's own ``.scratch``."""
    import __spark_entry__ as entry_mod
    from tests.oracle_utils import compare, duck_connection

    checkout_scratch = layout.SCRATCH_ROOT

    def entries() -> set[str]:
        return set(os.listdir(checkout_scratch)) if os.path.isdir(checkout_scratch) else set()

    before = entries()
    monkeypatch.setattr(layout, "SCRATCH_ROOT", str(tmp_path))
    con = duck_connection(SF_DIR)
    try:
        compare(entry_mod.queries()[key](spark, SF_DIR), con, entry_mod.oracle_sql()[key])
    finally:
        con.close()
    family = PLAN_SCRATCH_FAMILIES[key]
    assert [p for p in os.listdir(tmp_path) if p.startswith(f"{family}_")], os.listdir(tmp_path)
    assert not entries() - before


def test_schema_widen_scan_rebuilds_after_half_staged_failure(spark, tmp_path, monkeypatch):
    """``schema_widen_scan`` stages two halves.  A run whose second
    write fails publishes nothing, so the next run stages both halves
    again and matches its oracle."""
    import __spark_entry__ as entry_mod
    from pyspark.sql.readwriter import DataFrameWriter

    from tests.oracle_utils import compare, duck_connection

    monkeypatch.setattr(layout, "SCRATCH_ROOT", str(tmp_path))
    real_parquet = DataFrameWriter.parquet
    failed = []

    def parquet_failing_once(self, path, *args, **kwargs):
        if str(path).endswith("/new") and not failed:
            failed.append(path)
            raise OSError("injected write failure")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet_failing_once)
    key = "schema_widen_scan"
    with pytest.raises(OSError, match="injected"):
        entry_mod.queries()[key](spark, SF_DIR)
    assert failed
    con = duck_connection(SF_DIR)
    try:
        compare(entry_mod.queries()[key](spark, SF_DIR), con, entry_mod.oracle_sql()[key])
    finally:
        con.close()


def test_no_checkout_path_literal_in_package():
    """No package file names an absolute checkout path; scratch state
    is placed by ``layout`` alone, so the engine runs from anywhere."""
    import pathlib

    literal = "/".join(("", "root", "repo")).encode()
    pkg = pathlib.Path(layout.__file__).resolve().parent.parent
    offenders = [
        str(p.relative_to(pkg))
        for p in pkg.rglob("*")
        if p.is_file() and "__pycache__" not in p.parts and literal in p.read_bytes()
    ]
    assert not offenders, offenders


def test_bucketed_keys_build_concurrently(spark, tmp_path, monkeypatch):
    """Four threads of one session each build ``join_bucketed`` and
    ``scan_bucket_prune`` three times from a cold SCRATCH_ROOT: every
    result matches its oracle, and the session's warehouse directory
    is left untouched (no plan writes a managed table)."""
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as entry_mod
    from data_engineering_assessment_spark.session import scoped_conf
    from tests.oracle_utils import compare, duck_connection

    monkeypatch.setattr(layout, "SCRATCH_ROOT", str(tmp_path))
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def snapshot() -> dict[str, int]:
        if not os.path.isdir(warehouse):
            return {}
        return {e: os.stat(os.path.join(warehouse, e)).st_mtime_ns for e in os.listdir(warehouse)}

    def run(_):
        con = duck_connection(SF_DIR)
        errors = []
        try:
            for _ in range(3):
                for key in ("join_bucketed", "scan_bucket_prune"):
                    try:
                        compare(queries[key](spark, SF_DIR), con, oracles[key])
                    except Exception as e:  # noqa: BLE001 - counted below
                        errors.append(f"{key}: {type(e).__name__}: {str(e)[:200]}")
        finally:
            con.close()
        return errors

    before = snapshot()
    # scan_bucket_prune scopes a session-wide conf; interleaved scopes
    # can restore another thread's value, so put the original back
    auto = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    with scoped_conf(spark, {auto: spark.conf.get(auto)}), ThreadPoolExecutor(4) as pool:
        errors = [e for errs in pool.map(run, range(4)) for e in errs]
    assert not errors, f"{len(errors)} of 24 builds failed: {errors[:3]}"
    assert snapshot() == before


def test_no_managed_table_writes_in_package():
    """``layout.scratch_bucketed_table`` is the one bucketed-table
    writer: no other package code calls ``saveAsTable``, and none
    reads ``spark.sql.warehouse.dir``."""
    import ast
    import pathlib

    pkg = pathlib.Path(layout.__file__).resolve().parent.parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = set()
        if path.name == "layout.py" and path.parent.name == "sources":
            [writer] = [
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "scratch_bucketed_table"
            ]
            allowed = {id(n) for n in ast.walk(writer)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                hit = getattr(node.func, "attr", None) == "saveAsTable" and id(node) not in allowed
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                hit = "spark.sql.warehouse.dir" in node.value
            else:
                continue
            if hit:
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert not offenders, offenders
