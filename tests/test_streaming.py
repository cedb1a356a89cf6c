"""Structured Streaming: the streaming twins must reproduce the batch
results when fed the same data via availableNow file streams.

Append-mode semantics: windows whose end lies within the watermark
allowance (2 h) of the max event time are correctly *held back* (not
yet final) — the tests assert exact equality on the emitted prefix
and that everything held back is in the un-final tail.
"""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from data_engineering_assessment_spark.sources.tables import load_table
from data_engineering_assessment_spark.streaming.windows import (
    read_event_stream,
    running_user_totals,
    session_counts,
    tumbling_counts,
)
from tests.conftest import SF_DIR

WATERMARK_S = 2 * 3600


@pytest.fixture(scope="module")
def event_dir(spark):
    """Events re-materialized as a micros-timestamped parquet dir the
    file stream source can read (the corpus file itself is nanos)."""
    d = tempfile.mkdtemp(prefix="dea_stream_")
    load_table(spark, SF_DIR, "events").repartition(4).write.mode("overwrite").parquet(d)
    return d


@pytest.fixture(scope="module")
def max_ts_s(spark):
    row = load_table(spark, SF_DIR, "events").agg(
        F.max(F.col("ts").cast("timestamp").cast("long")).alias("m")
    ).collect()[0]
    return row.m


def _run_to_memory(spark, stream_df, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_stream_matches_batch(spark, event_dir, max_ts_s):
    stream = read_event_stream(spark, event_dir)
    got = _run_to_memory(spark, tumbling_counts(stream), "t_tumble", "append").collect()
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("decimal(18,2)").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp").cast("long").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .collect()
    )
    got_set = set(map(tuple, got))
    batch_set = set(map(tuple, batch))
    assert got_set <= batch_set
    held_back = batch_set - got_set
    cutoff = max_ts_s - WATERMARK_S
    # every held-back window must still be inside the watermark allowance
    assert all(ws + 3600 > cutoff for (ws, *_rest) in held_back), held_back
    # and every sufficiently old window must have been emitted
    assert all(ws + 3600 > cutoff for (ws, *_rest) in batch_set - got_set)


def test_session_stream_matches_batch(spark, event_dir, max_ts_s):
    stream = read_event_stream(spark, event_dir)
    got = _run_to_memory(spark, session_counts(stream), "t_session", "append").collect()
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp").cast("long").alias("session_start"),
            F.col("w.end").cast("timestamp").cast("long").alias("session_end"),
            "n_events",
        )
        .collect()
    )
    got_set = set(map(tuple, got))
    batch_set = set(map(tuple, batch))
    assert len(got_set) > 0
    assert got_set <= batch_set
    cutoff = max_ts_s - WATERMARK_S
    assert all(se > cutoff for (_u, _ss, se, _n) in batch_set - got_set)


def test_stream_dedup_removes_duplicates(spark):
    from data_engineering_assessment_spark.streaming.windows import stream_dedup

    d = tempfile.mkdtemp(prefix="dea_stream_dup_")
    ev = load_table(spark, SF_DIR, "events")
    ev.unionAll(ev).repartition(4).write.mode("overwrite").parquet(d)
    stream = read_event_stream(spark, d)
    got = _run_to_memory(spark, stream_dedup(stream), "t_dedup", "append").collect()
    n_distinct = ev.select("event_id").distinct().count()
    assert len(got) == n_distinct
    assert len({r.event_id for r in got}) == n_distinct


def test_stateful_running_totals(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    got = _run_to_memory(spark, running_user_totals(stream), "t_state", "update").collect()
    # One final state row per user (single availableNow batch).
    per_user = {r.user_id: r for r in got}
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    )
    assert len(per_user) == len(batch)
    for b in batch:
        r = per_user[b.user_id]
        assert r.n_events == b.n
        assert abs(r.total_value - b.total) < 1e-6


def test_sliding_stream_is_append_prefix_of_batch(spark, event_dir, max_ts_s):
    from data_engineering_assessment_spark.streaming.windows import sliding_counts

    stream = read_event_stream(spark, event_dir)
    got = _run_to_memory(spark, sliding_counts(stream), "t_slide", "append").collect()
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").cast("timestamp").cast("long").alias("window_start"),
            "event_type",
            "n",
        )
        .collect()
    )
    got_set, batch_set = set(map(tuple, got)), set(map(tuple, batch))
    assert got_set and got_set <= batch_set
    cutoff = max_ts_s - WATERMARK_S
    # held-back panes must end within the watermark allowance
    assert all(ws + 3600 > cutoff for (ws, *_r) in batch_set - got_set)


def test_foreachbatch_upsert_sink_is_idempotent(spark, tmp_path):
    from data_engineering_assessment_spark.streaming.sinks import start_upsert_sink

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ev = load_table(spark, SF_DIR, "events")
    # duplicated input: the sink must still land one row per event_id
    ev.unionAll(ev).repartition(4).write.mode("overwrite").parquet(src)

    q = start_upsert_sink(
        read_event_stream(spark, src), target, "event_id",
        checkpoint=str(tmp_path / "ckpt1"),
    )
    q.awaitTermination(120)
    n_distinct = ev.select("event_id").distinct().count()
    assert spark.read.parquet(target).count() == n_distinct

    # replaying the same data through a FRESH checkpoint converges to
    # the same state (idempotent MERGE, not blind append)
    q2 = start_upsert_sink(
        read_event_stream(spark, src), target, "event_id",
        checkpoint=str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(120)
    got = spark.read.parquet(target)
    assert got.count() == n_distinct
    assert got.select("event_id").distinct().count() == n_distinct


def test_stream_stream_join_matches_batch(spark):
    """Watermarked stream-stream inner join == the same join run in
    batch.  Single-file source → one availableNow micro-batch, so no
    cross-batch state eviction can drop matches and equality is exact.
    """
    from data_engineering_assessment_spark.streaming.windows import (
        purchase_click_join,
    )

    d = tempfile.mkdtemp(prefix="dea_ssj_")
    load_table(spark, SF_DIR, "events").coalesce(1).write.mode("overwrite").parquet(d)

    stream = read_event_stream(spark, d)
    got = _run_to_memory(
        spark, purchase_click_join(stream), "t_ssjoin", "append"
    ).collect()

    batch = spark.read.schema(stream.schema).parquet(d)
    exp = purchase_click_join(batch).collect()

    key = lambda r: (r.purchase_id, r.click_id)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, exp))
    assert len(exp) > 0  # the join actually matched something


def test_file_stream_restart_is_exactly_once(spark, tmp_path):
    """A checkpointed binaryFile stream restarted over a grown landing
    directory ingests ONLY the new files (the processed-file log
    survives the restart) and never duplicates the old ones."""
    from pyspark.sql import functions as F

    land = tmp_path / "landing"
    land.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def write_files(ids):
        for i in ids:
            (land / f"{i:04d}.bin").write_bytes(f"payload-{i}".encode())

    def run_once():
        stream = (
            spark.readStream.format("binaryFile")
            .schema("path string, modificationTime timestamp, length long, content binary")
            .load(str(land))
            .select(
                F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("int").alias("fid"),
                F.md5(F.col("content")).alias("digest"),
            )
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_files(range(5))
    run_once()
    first = spark.read.parquet(out)
    assert first.count() == 5

    write_files(range(5, 8))  # landing dir grows between runs
    run_once()
    final = spark.read.parquet(out)
    assert final.count() == 8  # 3 new files, zero re-ingested
    assert final.select("fid").distinct().count() == 8
    # digests match a fresh batch read (no corruption across restarts)
    batch = (
        spark.read.format("binaryFile").load(str(land))
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("int").alias("fid"),
            F.md5(F.col("content")).alias("digest"),
        )
    )
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, batch.collect()))


def test_late_watermark_boundary_never_ambiguous(spark):
    """stream_late_watermark's oracle assumes the final watermark
    (max event time - 30 min) never lands exactly on an hour-aligned
    window end; otherwise Spark's eviction boundary convention would
    decide one window's fate.  Assert that for every shipped SF."""
    import glob as g

    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources.tables import load_table

    for sf_dir in sorted(g.glob("/root/testdata/sf*")):
        mx = (
            load_table(spark, sf_dir, "events")
            .agg(F.max(F.col("ts").cast("timestamp").cast("long")))
            .collect()[0][0]
        )
        assert mx % 3600 not in (0, 1800), f"{sf_dir}: max ts half-hour aligned"


def test_late_watermark_drops_observable(spark):
    """The streaming answer differs from a naive no-watermark batch
    answer (i.e. the key actually exercises the drop path: days 0-3
    windows are absent, day-4+ finalized windows are present)."""
    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.plans.curation import stream_late_watermark
    from data_engineering_assessment_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    got = stream_late_watermark(spark, SF_DIR)
    t = F.col("ts").cast("timestamp").cast("long")
    events = load_table(spark, SF_DIR, "events").select(t.alias("t"))
    row = events.agg(F.min("t").alias("mn"), F.max("t").alias("mx")).collect()[0]
    day0 = row.mn - row.mn % 86400
    starts = [r.window_start for r in got.select("window_start").distinct().collect()]
    assert starts, "no finalized windows emitted"
    assert min(starts) >= day0 + 4 * 86400  # late days 0-3 all dropped
    assert max(starts) + 3600 <= row.mx - 1800  # open windows not emitted


def test_transform_with_state_plan_builds(spark, event_dir):
    """transformWithStateInPandas (Spark 4 multi-state API): the
    operator PLANS against a real file stream — logical plan builds,
    streaming bit set, output schema is the declared profile.  The
    execution half lives in the companion test below behind the
    documented protobuf environment gate."""
    from data_engineering_assessment_spark.streaming.windows import (
        user_profile_tws,
    )

    stream = user_profile_tws(read_event_stream(spark, event_dir))
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == [
        "user_id", "n_events", "n_errors", "n_types", "max_cents",
    ]


def test_transform_with_state_executes_when_env_allows(spark, event_dir):
    """Execution half: needs the RocksDB state store provider, which
    ships with Spark 4.1.2, and google.protobuf (the TWS driver-worker
    wire protocol), which is an extra Python dependency; skipped when
    protobuf is not importable (documented gate in user_profile_tws's
    docstring).  Where it runs it must equal the batch aggregate."""
    from data_engineering_assessment_spark.streaming.windows import (
        user_profile_tws,
    )

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf absent: TWS driver worker cannot start "
                    "(documented environment gate)")
    stream = user_profile_tws(read_event_stream(spark, event_dir))
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName("tws_profile_test")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            r.user_id: (r.n_events, r.n_errors, r.n_types, r.max_cents)
            for r in spark.table("tws_profile_test")
            .groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max("n_errors").alias("n_errors"),
                F.max("n_types").alias("n_types"),
                F.max("max_cents").alias("max_cents"),
            )
            .collect()
        }
        want = {
            r.user_id: (r.n, r.e, r.t, r.m)
            for r in load_table(spark, SF_DIR, "events")
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.count_if(F.col("event_type") == "error").alias("e"),
                F.countDistinct("event_type").alias("t"),
                F.max((F.col("value").cast("decimal(12,2)") * 100).cast("long")).alias("m"),
            )
            .collect()
        }
        assert got == want
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_stream_left_outer_join_multibatch_matches_batch(spark):
    """The watermarked LEFT OUTER stream-stream join under a genuinely
    multi-batch replay (time-sliced files, maxFilesPerTrigger=1, so
    watermarks advance BETWEEN batches and outer rows flush
    incrementally) still emits exactly the batch LEFT JOIN — the
    cross-batch state-eviction property the graded single-batch key
    cannot exercise.  Far-future sentinels on BOTH sides ride in the
    last slice so the final watermark closes every real view's match
    window (global watermark = MIN across the two sides)."""
    import glob
    import os
    import shutil

    from data_engineering_assessment_spark.streaming.windows import (
        view_purchase_left_join,
    )

    ev = load_table(spark, SF_DIR, "events")
    lo, hi = ev.agg(
        F.min(F.col("ts").cast("timestamp").cast("long")),
        F.max(F.col("ts").cast("timestamp").cast("long")),
    ).collect()[0]
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    t = F.col("ts").cast("timestamp").cast("long")
    slices = [
        ev.filter(t < cut1),
        ev.filter((t >= cut1) & (t < cut2)),
        ev.filter(t >= cut2),
    ]

    def sentinel(eid, uid, etype):
        return ev.agg(
            F.lit(eid).cast("long").alias("event_id"),
            (F.max("ts") + F.expr("INTERVAL 5 HOURS")).alias("ts"),
            F.lit(uid).cast("long").alias("user_id"),
            F.lit(etype).alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    slices[2] = (
        slices[2]
        .select(cols)
        .unionAll(sentinel(-1, -1, "view"))
        .unionAll(sentinel(-2, -2, "purchase"))
    )

    d = tempfile.mkdtemp(prefix="dea_loj_mb_")
    for i, sl in enumerate(slices):
        tmp = os.path.join(d, f"_stage{i}")
        sl.select(cols).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(d, f"{i:02d}.parquet")
        shutil.copy(part, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))  # mtime order = time order

    stream = (
        spark.readStream.schema(read_event_stream(spark, d).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "*.parquet"))
    )
    got = _run_to_memory(
        spark, view_purchase_left_join(stream), "t_loj_mb", "append"
    ).collect()
    n_batches_nulls = sum(1 for r in got if r.purchase_id is None)
    assert n_batches_nulls > 0  # outer rows actually flushed

    batch = spark.read.schema(stream.schema).parquet(os.path.join(d, "*.parquet"))
    exp = view_purchase_left_join(batch).filter(F.col("view_id") >= 0).collect()

    key = lambda r: (r.view_id, r.purchase_id)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, exp))


# -- no-data micro-batches in the foreachBatch sinks ------------------------

_HOUR = 3600
_T0 = 1_704_067_200  # 2024-01-01T00:00:00Z
_NO_DATA_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"
_MULTI_OP_CONF = "spark.sql.streaming.statefulOperator.allowMultiple"


def _land_events(land_dir, k, rows):
    """Land one event file (hidden name first, so the file source
    never sees a partial file).  ``rows`` = (event_id, ts_s, type)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] * 1_000_000 for r in rows], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([r[0] % 7 for r in rows], pa.int64()),
            "event_type": [r[2] for r in rows],
            "value": [float(r[0] % 5) + 0.25 for r in rows],
            "props": ["{}"] * len(rows),
        }
    )
    tmp = os.path.join(land_dir, f".b{k:03d}.tmp")
    pq.write_table(tbl, tmp)
    os.rename(tmp, os.path.join(land_dir, f"b{k:03d}.parquet"))


def _hour_of_events(k, n=12):
    """n events in hour k at minute 3 + 5i: never hour-aligned, so no
    watermark or window end lands exactly on an event."""
    types = ("click", "view", "purchase")
    return [(k * 1000 + i, _T0 + k * _HOUR + (3 + 5 * i) * 60, types[i % 3]) for i in range(n)]


def test_append_aggregation_sink_keeps_no_data_batch(spark, tmp_path):
    """An append-mode windowed aggregation emits a window only when
    the watermark passes its end, so its no-data micro-batch EMITS
    rows: after every AvailableNow run the table holds exactly the
    windows that run's watermark closed — not one run later."""
    from data_engineering_assessment_spark.sources import tablelog
    from data_engineering_assessment_spark.streaming.sinks import start_tablelog_sink

    land = tmp_path / "land"
    land.mkdir()
    table, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    delay_s = 10 * 60
    landed = []
    for k in range(4):
        rows = _hour_of_events(k)
        _land_events(str(land), k, rows)
        landed += rows
        stream = tumbling_counts(
            read_event_stream(spark, str(land)), "1 hour", watermark="10 minutes"
        )
        start_tablelog_sink(stream, table, ckpt).awaitTermination(120)

        watermark = max(ts for _, ts, _ in landed) - delay_s
        want = {}
        for _, ts, etype in landed:
            w = ts - ts % _HOUR
            if w + _HOUR <= watermark:
                want[(w, etype)] = want.get((w, etype), 0) + 1
        got = {
            (r.window_start, r.event_type): r.n
            for r in tablelog.read_version(spark, table).collect()
        }
        assert got == want, f"run {k}"
    assert len(want) == 3 * 3  # windows 0..2 closed, three event types each


@pytest.fixture(scope="module")
def evict_only_runs(spark):
    """Five landed hourly batches, each followed by one AvailableNow
    run of ``tumbling_counts`` → ``start_upsert_sink`` (update mode)
    and ``stream_dedup`` → ``start_tablelog_sink`` (append mode).
    From batch 1 on, each batch re-sends two rows of the previous
    batch and one of its own, and carries two rows four hours late.
    Each is behind its batch's own watermark.  The aggregation's late
    test is on the window end, and by that test none is behind the
    previous batch's watermark, so they are all dropped only if late
    rows are filtered by the watermark the skipped no-data batch would
    have used."""
    import os

    from data_engineering_assessment_spark.streaming.sinks import (
        start_tablelog_sink,
        start_upsert_sink,
    )
    from data_engineering_assessment_spark.streaming.windows import stream_dedup

    base = tempfile.mkdtemp(prefix="dea_evict_only_")
    land = os.path.join(base, "land")
    os.makedirs(land)
    out = {
        "target": os.path.join(base, "window_counts"),
        "table": os.path.join(base, "events_dedup"),
        "on_time": [],
        "upsert": [],
        "dedup": [],
        "conf": [],
    }
    prev = []
    for k in range(5):
        rows = _hour_of_events(k)
        late = []
        if k:
            rows += prev[:2] + rows[:1]
            late = [(k * 1000 + 900 + j, _T0 + (k - 4) * _HOUR + 7 * 60, "view") for j in range(2)]
        _land_events(land, k, rows + late)
        out["on_time"].append(rows)
        prev = _hour_of_events(k)

        q = start_upsert_sink(
            tumbling_counts(read_event_stream(spark, land)),
            out["target"], ["window_start", "event_type"],
            checkpoint=os.path.join(base, "ckpt_counts"),
        )
        out["conf"].append((spark.conf.get(_NO_DATA_CONF), spark.conf.get(_MULTI_OP_CONF)))
        q.awaitTermination(120)
        out["upsert"].append(q.recentProgress)
        q = start_tablelog_sink(
            stream_dedup(read_event_stream(spark, land)),
            out["table"], checkpoint=os.path.join(base, "ckpt_dedup"),
        )
        out["conf"].append((spark.conf.get(_NO_DATA_CONF), spark.conf.get(_MULTI_OP_CONF)))
        q.awaitTermination(120)
        out["dedup"].append(q.recentProgress)
    return out


def test_evict_only_sinks_run_one_batch_per_landed_batch(spark, evict_only_runs):
    """Update-mode aggregation and watermarked dedup: a no-data batch
    could only evict state, so the sinks never schedule one — every
    micro-batch carries input — and the final state still equals the
    batch aggregation over on-time rows and the unique on-time ids
    (every late row dropped, as with the no-data batch).  The session
    confs the sinks scope are unchanged after each start."""
    from data_engineering_assessment_spark.sources import tablelog

    runs = evict_only_runs
    assert runs["conf"] == [("true", "true")] * 10
    for progress in runs["upsert"] + runs["dedup"]:
        assert progress and all(p["numInputRows"] > 0 for p in progress)
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"] for r in runs["dedup"] for p in r
    )
    assert dropped == 2 * 4  # every late row

    on_time = [row for rows in runs["on_time"] for row in rows]
    want = {}
    for eid, ts, etype in on_time:
        acc = want.setdefault((ts - ts % _HOUR, etype), [0, 0])
        acc[0] += 1
        acc[1] += round((float(eid % 5) + 0.25) * 100)
    got = {
        (r.window_start, r.event_type): [r.n, int(r.sum_value * 100)]
        for r in spark.read.parquet(runs["target"]).collect()
    }
    assert got == want

    ids = [r.event_id for r in tablelog.read_version(spark, runs["table"]).collect()]
    assert sorted(ids) == sorted({eid for eid, _, _ in on_time})


def test_skipped_no_data_batch_defers_eviction_by_one_trigger(evict_only_runs):
    """With the no-data batch skipped, eviction runs in the next data
    batch under the watermark already in force at its start.  So after
    every batch the aggregation state holds exactly the on-time
    (window, type) keys whose window ends after that watermark: no
    window that ended before it survives the batch."""
    from datetime import datetime

    runs = evict_only_runs
    for k, (progress,) in enumerate(runs["upsert"]):
        wm = datetime.fromisoformat(progress["eventTime"]["watermark"].replace("Z", "+00:00"))
        wm_s = int(wm.timestamp())
        keys = {(ts - ts % _HOUR, t) for rows in runs["on_time"][: k + 1] for _, ts, t in rows}
        live = {key for key in keys if key[0] + _HOUR > wm_s}
        so = progress["stateOperators"][0]
        # the upsert evaluates its batch twice (anti join + union) once
        # the target exists; the progress sums state metrics over both
        executions = so["numStateStoreInstances"] // so["numShufflePartitions"]
        assert so["numRowsTotal"] == executions * len(live), f"batch {k}"
    assert live < keys  # the last batch did evict closed windows
