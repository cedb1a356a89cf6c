#!/usr/bin/env python
"""Measure the REFERENCE's own pipeline on this box — the true baseline.

BASELINE.md notes the reference publishes no numbers, so previous
rounds used this repo's own `green_taxi_pipeline` as a same-box
stand-in anchor.  This tool closes that gap: it imports the reference
scripts VERBATIM from /root/reference (read-only; nothing is copied
into this repo) and times the same end-to-end work as this repo's
``green_taxi_pipeline`` on a tiled anchor CSV (the committed 3-row
fixture repeated to 200k and 2M data rows):

  stage 1 = reference 01.py: driver-side regex clean (smart_open →
            BytesIO) + PyArrow typed CSV parse + parquet write.
            `smart_open` is absent in this container and only wraps
            builtin open for local paths, so a 3-line shim module is
            injected before import.
  stage 2 = reference 02.py: Spark SQL derived columns (one-hot
            hour/dow, duration, JFK bbox) + coalesce(1) parquet write
            + part-file promotion — replayed exactly as its main()
            does, but parameterized on our paths and reusing one
            SparkSession across repetitions (a cold JVM would bill
            ~10 s of fixed startup to the reference unfairly).

Prints one JSON line: best-of-3 per stage, plus this repo's anchor
timing for the identical work, measured in the same process.

Usage: python tools/ref_baseline.py
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys
import time
import types
from pathlib import Path
from tempfile import TemporaryDirectory

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load_reference_module(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# Content pins for the reference scripts (module-level code from the
# untrusted /root/reference checkout executes on import).  The scripts
# were reviewed at these hashes; if the checkout ever changes, refuse
# to exec instead of running unreviewed code.
REFERENCE_SHA256 = {
    "/root/reference/01.py": (
        "74adc90641f23cbef773b79b89072a22b6d9be496b950dfe81c7366361566b16"
    ),
    "/root/reference/02.py": (
        "31c93592259a3c31b0e8873cbd7efccb5bee184310a928ade1928be5348388df"
    ),
}


def _check_reference_pins() -> None:
    import hashlib

    for path, expected in REFERENCE_SHA256.items():
        actual = hashlib.sha256(Path(path).read_bytes()).hexdigest()
        if actual != expected:
            raise RuntimeError(
                f"{path} content hash {actual[:12]}… != reviewed pin "
                f"{expected[:12]}… — refusing to exec unreviewed code"
            )


def load_reference():
    """Import the reference's 01.py/02.py verbatim with the two
    environment shims (absent smart_open; pyarrow 1.0.1 vs 16.x
    timestamp-parse behavior).  Returns (ref01, ref02).  The scripts'
    content hashes are pinned (REFERENCE_SHA256) before exec."""
    _check_reference_pins()
    # smart_open shim: the reference uses it only to open the source
    # URL; for a local file path builtin open is behaviorally identical
    if "smart_open" not in sys.modules:
        shim = types.ModuleType("smart_open")
        shim.open = open
        sys.modules["smart_open"] = shim

    ref01 = load_reference_module("ref01", "/root/reference/01.py")
    ref02 = load_reference_module("ref02", "/root/reference/02.py")

    # pyarrow compatibility shim: the reference pins pyarrow==1.0.1,
    # which parsed naive CSV timestamps directly into a tz-aware
    # timestamp(s, tz=America/New_York) column; pyarrow>=13 (16.1 in
    # this container) refuses and requires parse-naive +
    # assume_timezone.  Reproduce the 1.0.1 behavior with the modern
    # two-step so the measured work is equivalent: same parse, plus
    # one zero-copy-ish metadata localization pass.
    import pyarrow as pa

    naive_ts = pa.timestamp("s")
    naive_schema = pa.schema(
        [
            (f.name, naive_ts if f.type == ref01.TIMESTAMP else f.type)
            for f in ref01.SCHEMA
        ]
    )
    _orig_parse = ref01.parse_green_taxi_csv
    orig_schema = ref01.SCHEMA

    def parse_then_localize(fobj):
        ref01.SCHEMA = naive_schema
        try:
            table = _orig_parse(fobj)
        finally:
            ref01.SCHEMA = orig_schema
        import pyarrow.compute as pc

        # assume_timezone semantics of the 1.0.1 parse: wall-clock
        # values are America/New_York local times
        cols = [
            pc.assume_timezone(c, "America/New_York")
            if table.schema.field(i).type == naive_ts
            else c
            for i, c in enumerate(table.columns)
        ]
        return pa.table(dict(zip(table.column_names, cols)))

    ref01.parse_green_taxi_csv = parse_then_localize
    return ref01, ref02


def measure_reference(spark, ref01, ref02, csv_path, stage1_out, final_out,
                      repeats: int = 3):
    """Best-of-``repeats`` wall time of the reference's two stages on
    ``csv_path``; returns (stage1_sec, stage2_sec)."""
    from io import BytesIO

    best1 = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        with BytesIO() as buf:
            ref01.read_green_taxi_csv(csv_path, buf)
            buf.seek(0)
            table = ref01.parse_green_taxi_csv(buf)
        ref01.write_table_to_parquet(table, stage1_out)
        best1 = min(best1, time.perf_counter() - t0)

    best2 = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        with TemporaryDirectory() as output_dir:
            out_dir = Path(output_dir)
            input_df = spark.read.parquet(f"file://{stage1_out}")
            alias = "input_df"
            input_df.createOrReplaceTempView(alias)
            output_df = spark.sql(ref02.build_query(alias))
            output_df.coalesce(1).write.parquet(
                f"file://{out_dir}", mode="overwrite"
            )
            shutil.move(next(out_dir.glob("*.parquet")), Path(final_out))
        best2 = min(best2, time.perf_counter() - t0)
    return best1, best2


def anchor_csv(scratch: Path, n_rows: int) -> str:
    """Materialize (once) a synthetic green-taxi CSV: the committed
    3-row fixture tiled to ``n_rows`` data rows."""
    from data_engineering_assessment_spark.plans.parity import FIXTURE_CSV

    path = scratch / f"green_taxi_anchor_{n_rows}.csv"
    if path.exists():
        return str(path)
    with open(FIXTURE_CSV) as f:
        header, *rows = [ln.rstrip("\n") for ln in f if ln.strip()]
    block = "".join(r + "\n" for r in rows)
    tmp = path.with_suffix(".tmp")
    with open(tmp, "w") as out:
        out.write(header + "\n")
        out.write(block * (n_rows // len(rows)))
    os.replace(tmp, path)
    return str(path)


def main() -> None:
    ref01, ref02 = load_reference()

    from data_engineering_assessment_spark.session import get_spark
    from data_engineering_assessment_spark.sources.green_taxi import (
        green_taxi_pipeline,
    )
    from data_engineering_assessment_spark.sources.layout import scratch_path

    spark = get_spark(app_name="ref-baseline")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = Path(scratch_path("ref", "baseline"))
    scratch.mkdir(parents=True, exist_ok=True)

    sizes = [int(s) for s in (sys.argv[1:] or ["200000", "2000000"])]
    results = []
    for n_rows in sizes:
        csv_path = anchor_csv(scratch, n_rows)
        stage1_out = scratch / f"01_{n_rows}.parquet"
        final_out = scratch / f"02_{n_rows}.parquet"

        # ---- reference 01.py + 02.py verbatim ----
        best1, best2 = measure_reference(
            spark, ref01, ref02, csv_path, stage1_out, final_out
        )

        # ---- this repo's pipeline: identical end-to-end work ----
        ours = float("inf")
        for i in range(3):
            staged = str(scratch / f"ours_staged_{n_rows}_{i}.parquet")
            out = str(scratch / f"ours_out_{n_rows}_{i}.parquet")
            t0 = time.perf_counter()
            green_taxi_pipeline(spark, csv_path, staged, out, single_file=True)
            ours = min(ours, time.perf_counter() - t0)

        # ---- same work without the single-file constraint ----
        # The reference's coalesce(1) deliverable forces a serial
        # write; that artificial floor dominates both pipelines above.
        # This is the number that scales: parallel output files, which
        # is the only correct shape at 100 TB (the reference's
        # architecture has no parallel variant — stage 1 is a
        # single-process BytesIO pass by construction).
        ours_par = float("inf")
        for i in range(3):
            staged = str(scratch / f"ours_pstaged_{n_rows}_{i}.parquet")
            out = str(scratch / f"ours_pout_{n_rows}_{i}.parquet")
            t0 = time.perf_counter()
            green_taxi_pipeline(spark, csv_path, staged, out, single_file=False)
            ours_par = min(ours_par, time.perf_counter() - t0)

        ref_total = round(best1 + best2, 3)
        results.append(
            {
                "rows": n_rows,
                "ref_stage1_sec": round(best1, 3),
                "ref_stage2_sec": round(best2, 3),
                "ref_total_sec": ref_total,
                "ours_total_sec": round(ours, 3),
                "ours_parallel_sec": round(ours_par, 3),
                "ref_over_ours": round(ref_total / ours, 2) if ours else None,
                "ref_over_ours_parallel": (
                    round(ref_total / ours_par, 2) if ours_par else None
                ),
            }
        )

    print(json.dumps({"metric": "reference_pipeline_sec", "runs": results},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
