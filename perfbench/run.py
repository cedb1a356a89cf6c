#!/usr/bin/env python3
"""Benchmark runner: one workload per invocation, one closed-loop client.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  Inputs are generated from ``--seed``
(and cached under ``perfbench/.cache`` while the generator is
unchanged); all run state lives under ``perfbench/.work/<workload>``,
which is wiped at the start of every run, so each run starts from the
same cold layout state.

``--trace 0`` measures the end-to-end metrics.  ``--trace 1`` runs
twice as many rounds, alternating untraced and traced rounds (so both see the
same JIT warmth); it reports the per-layer metrics of the traced
rounds and the tracing overhead (traced over untraced median op
latency), and writes the spans to
``perfbench/.work/<workload>/spans.jsonl``.

Human-readable lines come first; the last line of stdout is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
Exit code 0 only if every op succeeded and every output checked
correct.
"""

import time

T_PROCESS = time.perf_counter()  # before any heavy import: setup_s counts from here

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_engineering_assessment_spark"

E2E = [("setup_s", "s"), ("latency_p50_s", "s"), ("ops_per_s", "1/s")]
REPORT_UNITS = {"setup_s": "s", "latency_p50_s": "s", "ops_per_s": "1/s", "failed_frac": "ratio",
                "ingest_rows_per_s": "rows/s", "bytes_written_per_input_byte": "ratio"}


def _prune_cache(cache_root: str, current: str) -> None:
    """Drop input sets made by other generator versions."""
    if os.path.isdir(cache_root):
        for d in os.listdir(cache_root):
            if d != os.path.basename(current):
                shutil.rmtree(os.path.join(cache_root, d), ignore_errors=True)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat:
    steal is time the hypervisor gave this VM's CPUs to others."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7], sum(v[:8])


def _count_entries(*dirs: str) -> int:
    return sum(len(os.listdir(d)) for d in dirs if os.path.isdir(d))


def run_phase(wl, seconds: float, tracer, counters, alternate: bool) -> list[dict]:
    """Run ``round(seconds / wl.ROUND_SECONDS)`` whole rounds, at least
    one.  ``ROUND_SECONDS`` is a round's nominal length, so the phase
    lasts about ``seconds`` while every run measures the same op count
    in the same order; a clock-based stop would flip between round
    counts under load and mix warmer or colder rounds into the median.
    With ``alternate``, twice as many rounds run and every second one
    is traced."""
    n_rounds = max(1, round(seconds / wl.ROUND_SECONDS)) * (2 if alternate else 1)
    rounds = []
    for n in range(n_rounds):
        traced = alternate and n % 2 == 1
        tracer.enabled = traced
        r = {"traced": traced, "ops": [], "driver0": wl.driver_bytes()}
        r["job0"], r["stage0"] = tracer.marks()
        r0 = time.perf_counter()
        for op in wl.round(n):
            tracer.op = op.id
            with tracer.span("op", kind=op.kind):
                t = time.perf_counter()
                try:
                    op.fn()
                except Exception:  # an op that raises counts as failed; keep measuring
                    op.error = traceback.format_exc(limit=3)
                    print(f"# op {op.id} failed:\n{op.error}", file=sys.stderr)
                if op.seconds is None:
                    op.seconds = time.perf_counter() - t
                if traced:
                    op.persisted_bytes = counters.persisted_bytes()
            tracer.op = None
            r["ops"].append(op)
        tracer.enabled = False
        r["wall"] = time.perf_counter() - r0
        r["job1"], r["stage1"] = tracer.marks()
        r["driver1"] = wl.driver_bytes()
        rounds.append(r)
    return rounds


def _install_wrappers(tracer, spark, names) -> None:
    """Wrap the workload's listed layer functions; two of them record
    extra span attributes."""
    # tables loaded in warm-up already sit in the session's memo
    seen = {id(v) for v in getattr(spark, "_dea_table_memo", {}).values()}

    def memo(rec, a, kw, out):
        rec["memo_hit"] = id(out) in seen
        seen.add(id(out))

    def single_file(rec, a, kw, out):
        rec["single_file"] = bool(kw.get("single_file", a[4] if len(a) > 4 else False))

    posts = {"sources.load_table": memo, "sources.write_parquet": single_file}
    for mod, attr, name in names:
        tracer.wrap(importlib.import_module(mod), attr, name, post=posts.get(name))


def _stop_jvm() -> None:
    """Shut the driver JVM down and wait until it has exited, so the
    benchmark leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    pkg = os.path.join(ROOT, PACKAGE)
    oracle = os.path.join(ROOT, "tests", "oracle_utils.py")
    if not os.path.isdir(pkg) or not os.path.isfile(oracle):
        print(f"error: {ROOT} holds no {PACKAGE}/ package and tests/oracle_utils.py; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import gen
    import layers
    import stats
    from spans import SparkCounters, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; know {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "cwd", "scratch"):
        os.makedirs(os.path.join(work, sub))
    cache_root = os.path.join(HERE, ".cache")
    cache = os.path.join(cache_root, gen.source_digest())
    _prune_cache(cache_root, cache)
    os.makedirs(cache, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # keep the JVM's temp files (artifact dirs) in the checkout too, and
        # skip its /tmp/hsperfdata file (read only by jstat-like tools)
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)  # get_spark's own default applies
    os.chdir(os.path.join(work, "cwd"))  # spark-warehouse, metastore, derby.log land here

    wl = WORKLOADS[args.workload](args.seed, work, cache)
    t = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t

    from data_engineering_assessment_spark.session import get_spark
    from data_engineering_assessment_spark.sources import layout

    # every run starts from no scratch layouts at all (a cold run)
    layout.SCRATCH_ROOT = os.path.join(work, "scratch")
    layout_dirs = (layout.SCRATCH_ROOT, os.path.join(work, "cwd", "spark-warehouse"))
    tracer = Tracer()
    wl.tracer = tracer
    t = time.perf_counter()
    spark = get_spark()
    start_s = time.perf_counter() - t
    try:
        tracer.bind(spark)
        counters = SparkCounters(spark)
        t = time.perf_counter()
        wl.setup(spark)
        warmup_s = time.perf_counter() - t
        layouts_warm = _count_entries(*layout_dirs)
        if args.trace:
            _install_wrappers(tracer, spark, layers.WRAPPERS[args.workload])
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        ticks0 = _cpu_ticks()
        rounds = run_phase(wl, args.seconds, tracer, counters, alternate=bool(args.trace))
        ticks1 = _cpu_ticks()
        layouts_built = _count_entries(*layout_dirs) - layouts_warm
        tracer.unwrap()
        t = time.perf_counter()
        bad = wl.check(ROOT)
        print(f"# check {time.perf_counter() - t:.3f} s", file=sys.stderr)
        t = time.perf_counter()
        counters.drain()
        stage_data = counters.stages(rounds[0]["stage0"], rounds[-1]["stage1"])
        print(f"# stage data {time.perf_counter() - t:.3f} s", file=sys.stderr)
        untraced = [r for r in rounds if not r["traced"]]
        traced = [r for r in rounds if r["traced"]]
        layer_m = None
        if args.trace:
            unfired = tracer.unfired()
            if unfired:
                raise RuntimeError(f"traced wrappers never fired (bound before patching?): {unfired}")

            def p50(rs):
                return stats.median([o.seconds for r in rs for o in r["ops"] if o.error is None])

            run_info = {
                "start_s": start_s, "warmup_s": warmup_s,
                "jvm_peak_rss_mb": counters.jvm_peak_rss_mb(), "cores": cores,
                "layouts_built": layouts_built,
                "driver_bytes": sum(r["driver1"] - r["driver0"] for r in traced),
                "traced_p50_s": p50(traced), "untraced_p50_s": p50(untraced),
            }
            layer_m = layers.compute(run_info, tracer.spans, stage_data, counters.executions(),
                                     [o for r in traced for o in r["ops"]])
            tracer.dump(os.path.join(work, "spans.jsonl"))
            with open(os.path.join(work, "layers.json"), "w") as fh:
                json.dump(layer_m, fh, indent=1)
        spark_ver = spark.version
        driver_mem = spark.sparkContext.getConf().get("spark.driver.memory")
        java_ver = spark._jvm.java.lang.System.getProperty("java.version")
    finally:
        t = time.perf_counter()
        spark.stop()
        _stop_jvm()
        print(f"# shutdown {time.perf_counter() - t:.3f} s", file=sys.stderr)

    import pyarrow

    all_ops = [o for r in rounds for o in r["ops"]]
    for o in all_ops:
        why = bad.get(o.id) or bad.get(o.kind)
        if o.error is None and why:
            o.error = f"wrong result: {why}"
    # a failed check of shared final state (a table, a sink target)
    # cannot be pinned on one op: every op of the run counts as failed
    if set(bad) - {o.id for o in all_ops} - {o.kind for o in all_ops}:
        for o in all_ops:
            o.error = o.error or "final-state check failed"
    attempted = len(all_ops)
    failed = sum(1 for o in all_ops if o.error is not None)
    ok = [o for r in untraced for o in r["ops"] if o.error is None]
    lat = [o.seconds for o in ok]
    wall = sum(r["wall"] for r in untraced)

    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    print(f"# run state: SPARK_GRAFT_CPUS={os.environ['SPARK_GRAFT_CPUS']} "
          f"SPARK_GRAFT_DRIVER_MEM=unset (spark.driver.memory={driver_mem}) "
          f"SPARK_LOCAL_DIRS={os.path.relpath(os.environ['SPARK_LOCAL_DIRS'], ROOT)} "
          f"spark={spark_ver} pyarrow={pyarrow.__version__} java={java_ver} "
          f"python={sys.version.split()[0]}")
    print(f"# setup: session.start_s={start_s:.3f} session.warmup_s={warmup_s:.3f} "
          f"input_generation_s={gen_s:.3f} (excluded) scratch_layouts_built_in_warmup={layouts_warm}")
    print(f"# measured: {len(untraced)} untraced rounds, {len(lat)} ops in {wall:.3f} s"
          + (f"; {len(traced)} traced rounds" if traced else "")
          + f"; CPU steal {(ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]):.1%}")
    for r in rounds:
        for o in r["ops"]:
            print(f"# op {o.id}{' traced' if r['traced'] else ''} {o.seconds:.4f} s"
                  f"{' FAILED' if o.error else ''}")
    for key, why in sorted(bad.items()):
        print(f"# WRONG {key}: {why}")
    e2e = {}
    if lat:
        e2e = {"setup_s": setup_s, "latency_p50_s": stats.median(lat), "ops_per_s": len(ok) / wall}
    report = dict(e2e)
    report["failed_frac"] = stats.failed_frac(attempted, failed)
    rows_in = sum(getattr(o, "rows_in", 0) for o in ok)
    if rows_in:
        report["ingest_rows_per_s"] = rows_in / wall
        spark_out = sum(s["outputBytes"] for r in untraced
                        for i, s in stage_data.items() if r["stage0"] <= i < r["stage1"])
        report["bytes_written_per_input_byte"] = stats.bytes_written_per_input_byte(
            {"spark_tasks": spark_out,
             "driver": sum(r["driver1"] - r["driver0"] for r in untraced)},
            sum(o.bytes_in for o in ok))
    for k, v in report.items():
        n = f"  (n={len(lat)})" if k == "latency_p50_s" else ""
        print(f"metric {k} = {v:.6g} {REPORT_UNITS[k]}{n}")
    p90 = stats.percentile(lat, 90)
    if p90 is None:
        print(f"metric latency_p90_s = n/a  (n={len(lat)}: fewer than "
              f"{stats.MIN_TAIL} samples beyond p90)")
    else:
        print(f"metric latency_p90_s = {p90:.6g} s  (n={len(lat)})")
    wanted = layers.reported(args.workload) if args.trace else E2E
    if layer_m is not None:
        for k, unit in wanted:
            print(f"layer {k} = {layer_m[k]:.6g} {unit}")

    correct = not bad and failed == 0
    if args.trace:
        metrics = {k: {"value": layer_m[k], "unit": u} for k, u in wanted}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in wanted if k in e2e}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    complete = len(metrics) == len(wanted)
    return 0 if correct and complete else 1


if __name__ == "__main__":
    sys.exit(main())
