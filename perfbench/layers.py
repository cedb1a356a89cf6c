"""Per-layer metrics from spans, Spark stage data and SQL node metrics.

Unless a name says otherwise, a value is a per-op mean over the traced
measured phase (sum over its ops divided by the op count), so runs
with different op counts compare.  A layer a workload does not call
reads 0; a wrapper the workload lists but that never fired is an
error raised before this point.
"""

from __future__ import annotations

import stats

# Wrapped layer functions per workload: (module, attribute, span name).
# Each listed wrapper must fire during the traced phase.
WRAPPERS = {
    "olap_mix": [
        ("data_engineering_assessment_spark.sources.tables", "load_table", "sources.load_table"),
        ("data_engineering_assessment_spark.operators.skew", "salted_join", "operators.salted_join"),
        ("data_engineering_assessment_spark.functions.taxi", "one_hot_hour", "functions.one_hot_hour"),
    ],
    "taxi_ingest": [
        ("data_engineering_assessment_spark.sources.green_taxi", "read_green_taxi_csv",
         "sources.read_green_taxi_csv"),
        ("data_engineering_assessment_spark.sources.parquet_io", "write_parquet",
         "sources.write_parquet"),
        ("data_engineering_assessment_spark.functions.taxi", "taxi_derived_columns",
         "functions.taxi_derived_columns"),
        ("data_engineering_assessment_spark.sources.tablelog", "append", "sources.tablelog_append"),
        ("data_engineering_assessment_spark.sources.tablelog", "optimize_small_files",
         "sources.tablelog_optimize"),
    ],
    "event_stream": [
        ("data_engineering_assessment_spark.sources.upsert", "upsert_parquet", "sources.upsert"),
        ("data_engineering_assessment_spark.sources.tablelog", "append", "sources.tablelog_append"),
    ],
}

METRICS = [
    # (name, unit)
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("session.jvm_peak_rss_mb", "MB"),
    ("plans.build_s", "s"),
    ("plans.build_self_s", "s"),
    ("plans.eager_jobs", "count"),
    ("plans.physical_plan_s", "s"),
    ("plans.exec_s", "s"),
    ("plans.jobs", "count"),
    ("plans.stages", "count"),
    ("plans.tasks", "count"),
    ("plans.executor_run_s", "s"),
    ("plans.executor_cpu_s", "s"),
    ("plans.gc_s", "s"),
    ("plans.shuffle_write_bytes", "bytes"),
    ("plans.shuffle_read_bytes", "bytes"),
    ("plans.spill_bytes", "bytes"),
    ("plans.core_busy_frac", "ratio"),
    ("plans.rows_scanned_per_row_out", "ratio"),
    ("sources.load_table_calls", "count"),
    ("sources.load_table_memo_hit_frac", "ratio"),
    ("sources.scratch_layouts_built", "count"),
    ("sources.files_read", "count"),
    ("sources.scan_bytes", "bytes"),
    ("sources.tablelog_append_s", "s"),
    ("sources.bytes_written", "bytes"),
    ("sources.files_written", "count"),
    ("sources.bytes_rewritten", "bytes"),
    ("sources.upsert_s", "s"),
    ("functions.call_s", "s"),
    ("operators.call_s", "s"),
    ("operators.eager_jobs", "count"),
    ("operators.persisted_bytes", "bytes"),
    ("operators.python_rows", "count"),
    ("operators.python_bytes", "bytes"),
    ("operators.join_rows_per_row_out", "ratio"),
    ("streaming.run_s", "s"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"),
    ("streaming.latest_offset_ms", "ms"),
    ("streaming.state_rows_total", "count"),
    ("streaming.state_memory_bytes", "bytes"),
    ("streaming.rows_dropped_by_watermark", "count"),
    ("streaming.batches_per_run", "count"),
    ("trace.overhead_frac", "ratio"),
]

# Write-path metrics only taxi_ingest moves; every other workload reads
# 0 for them, so they are reported for taxi_ingest alone.
INGEST_METRICS = [
    ("sources.write_parquet_s", "s"),
    ("sources.write_parquet_single_file_s", "s"),
    ("sources.tablelog_optimize_s", "s"),
    ("functions.taxi_derive_cpu_s", "s"),
]


def reported(workload: str) -> list[tuple[str, str]]:
    """The per-layer metrics a ``--trace 1`` run of ``workload`` reports."""
    return METRICS + (INGEST_METRICS if workload == "taxi_ingest" else [])

_PY_NODES = ("Python", "Pandas", "Arrow")


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _stages_of(span: dict, stages: dict[int, dict]) -> list[dict]:
    return [stages[i] for i in range(span["stage0"], span["stage1"])]


def _jobs_of(span: dict) -> int:
    return span["job1"] - span["job0"]


def _execs_of(span: dict, execs: list[dict]) -> list[dict]:
    return [e for e in execs if e["jobs"] and all(span["job0"] <= j < span["job1"] for j in e["jobs"])]


def _node_sum(execs: list[dict], match, metric: str) -> float:
    return sum(
        n["metrics"].get(metric, 0.0) for e in execs for n in e["nodes"] if match(n["name"])
    )


def _outermost(spans: list[dict], prefix: str, by_id: dict[int, dict]) -> list[dict]:
    """Spans named ``prefix``* with no ancestor of the same prefix."""
    out = []
    for s in spans:
        if not s["name"].startswith(prefix):
            continue
        p = s["parent"]
        while p is not None and not by_id[p]["name"].startswith(prefix):
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def compute(run: dict, spans: list[dict], stages: dict[int, dict], execs: list[dict],
            ops: list) -> dict[str, float]:
    """``run`` carries session figures, core count, driver bytes and
    the traced/untraced p50; ``ops`` are the traced phase's ops (a
    stream op carries ``progress``: the ``recentProgress`` of each of
    its query runs)."""
    n = max(1, len(ops))
    op_ids = {o.id for o in ops}
    spans = [s for s in spans if s["op"] in op_ids]
    by_id = {s["id"]: s for s in spans}
    named = {}
    for s in spans:
        named.setdefault(s["name"], []).append(s)
    op_spans = named.get("op", [])
    op_stages = [st for s in op_spans for st in _stages_of(s, stages)]
    ran = [st for st in op_stages if st["status"] != "SKIPPED"]
    op_execs = [e for s in op_spans for e in _execs_of(s, execs)]
    rows_out = sum(getattr(o, "rows_out", 0) for o in ops)
    m: dict[str, float] = {}

    def per_op(v: float) -> float:
        return v / n

    def span_s(name: str, pred=lambda s: True) -> float:
        return per_op(sum(_dur(s) for s in named.get(name, []) if pred(s)))

    m["session.start_s"] = run["start_s"]
    m["session.warmup_s"] = run["warmup_s"]
    m["session.jvm_peak_rss_mb"] = run["jvm_peak_rss_mb"]

    m["plans.build_s"] = span_s("plans.build")
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    m["plans.build_self_s"] = per_op(sum(
        stats.self_time(s, children.get(s["id"], [])) for s in named.get("plans.build", [])))
    m["plans.eager_jobs"] = per_op(sum(_jobs_of(s) for s in named.get("plans.build", [])))
    m["plans.physical_plan_s"] = span_s("plans.physical_plan")
    m["plans.exec_s"] = span_s("plans.exec")
    m["plans.jobs"] = per_op(sum(_jobs_of(s) for s in op_spans))
    m["plans.stages"] = per_op(len(ran))
    m["plans.tasks"] = per_op(sum(st["numTasks"] for st in ran))
    run_s = sum(st["executorRunTime"] for st in ran) / 1e3
    m["plans.executor_run_s"] = per_op(run_s)
    m["plans.executor_cpu_s"] = per_op(sum(st["executorCpuTime"] for st in ran) / 1e9)
    m["plans.gc_s"] = per_op(sum(st["jvmGcTime"] for st in ran) / 1e3)
    m["plans.shuffle_write_bytes"] = per_op(sum(st["shuffleWriteBytes"] for st in ran))
    m["plans.shuffle_read_bytes"] = per_op(sum(st["shuffleReadBytes"] for st in ran))
    m["plans.spill_bytes"] = per_op(
        sum(st["memoryBytesSpilled"] + st["diskBytesSpilled"] for st in ran))
    busy_den = sum(_dur(s) for s in op_spans) * run["cores"]
    m["plans.core_busy_frac"] = run_s / busy_den if busy_den else 0.0
    scanned = _node_sum(op_execs, lambda nm: nm.startswith("Scan"), "number of output rows")
    m["plans.rows_scanned_per_row_out"] = scanned / rows_out if rows_out else 0.0

    loads = named.get("sources.load_table", [])
    m["sources.load_table_calls"] = per_op(len(loads))
    m["sources.load_table_memo_hit_frac"] = (
        sum(1 for s in loads if s.get("memo_hit")) / len(loads) if loads else 0.0)
    m["sources.scratch_layouts_built"] = run["layouts_built"]
    m["sources.files_read"] = per_op(
        _node_sum(op_execs, lambda nm: nm.startswith("Scan"), "number of files read"))
    m["sources.scan_bytes"] = per_op(sum(st["inputBytes"] for st in ran))
    m["sources.write_parquet_s"] = span_s("sources.write_parquet", lambda s: not s.get("single_file"))
    m["sources.write_parquet_single_file_s"] = span_s(
        "sources.write_parquet", lambda s: bool(s.get("single_file")))
    m["sources.tablelog_append_s"] = span_s("sources.tablelog_append")
    m["sources.tablelog_optimize_s"] = span_s("sources.tablelog_optimize")
    m["sources.bytes_written"] = per_op(sum(st["outputBytes"] for st in ran) + run["driver_bytes"])
    m["sources.files_written"] = per_op(
        _node_sum(op_execs, lambda nm: True, "number of written files"))
    rewrites = named.get("sources.tablelog_optimize", []) + named.get("sources.upsert", [])
    m["sources.bytes_rewritten"] = per_op(
        sum(st["outputBytes"] for s in rewrites for st in _stages_of(s, stages)))
    m["sources.upsert_s"] = span_s("sources.upsert")

    derive_cpu = 0.0
    for p in named.get("sources.green_taxi_pipeline", []):
        writes = [s for s in named.get("sources.write_parquet", []) if s["parent"] == p["id"]]
        if writes:  # the last write evaluates taxi_derived_columns
            derive_cpu += sum(st["executorCpuTime"] for st in _stages_of(writes[-1], stages)) / 1e9
    m["functions.taxi_derive_cpu_s"] = per_op(derive_cpu)
    m["functions.call_s"] = per_op(sum(_dur(s) for s in _outermost(spans, "functions.", by_id)))

    calls = _outermost(spans, "operators.", by_id)
    m["operators.call_s"] = per_op(sum(_dur(s) for s in calls))
    m["operators.eager_jobs"] = per_op(sum(_jobs_of(s) for s in calls))
    m["operators.persisted_bytes"] = per_op(sum(getattr(o, "persisted_bytes", 0) for o in ops))
    is_py = lambda nm: any(k in nm for k in _PY_NODES)  # noqa: E731
    m["operators.python_rows"] = per_op(_node_sum(op_execs, is_py, "number of output rows"))
    m["operators.python_bytes"] = per_op(
        _node_sum(op_execs, is_py, "data sent to Python workers"))
    joined = _node_sum(op_execs, lambda nm: "Join" in nm, "number of output rows")
    m["operators.join_rows_per_row_out"] = joined / rows_out if rows_out else 0.0

    m["streaming.run_s"] = span_s("streaming.run")
    progress = [o.progress for o in ops if getattr(o, "progress", None)]
    plist = [p for runs in progress for r in runs for p in r]
    for key, name in (("queryPlanning", "query_planning_ms"), ("addBatch", "add_batch_ms"),
                      ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms"),
                      ("latestOffset", "latest_offset_ms")):
        m[f"streaming.{name}"] = per_op(sum(p.get("durationMs", {}).get(key, 0) for p in plist))
    state_rows = state_mem = 0
    for runs in progress:
        for r in runs:
            if r:
                ops_state = r[-1].get("stateOperators", [])
                state_rows += sum(s.get("numRowsTotal", 0) for s in ops_state)
                state_mem += sum(s.get("memoryUsedBytes", 0) for s in ops_state)
    m["streaming.state_rows_total"] = per_op(state_rows)
    m["streaming.state_memory_bytes"] = per_op(state_mem)
    m["streaming.rows_dropped_by_watermark"] = per_op(sum(
        s.get("numRowsDroppedByWatermark", 0) for p in plist for s in p.get("stateOperators", [])))
    n_runs = sum(len(runs) for runs in progress)
    m["streaming.batches_per_run"] = len(plist) / n_runs if n_runs else 0.0

    m["trace.overhead_frac"] = run["traced_p50_s"] / run["untraced_p50_s"] - 1.0
    missing = [k for k, _ in METRICS + INGEST_METRICS if k not in m]
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {missing}")
    return m
