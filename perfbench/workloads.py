"""The benchmark's workloads.

Each workload owns its inputs (generated from the seed by ``gen``), a
warm-up that runs every distinct op once, a *round* (a fixed list of
ops; the measured phase runs whole rounds, so every run measures the
same mix in the same order and JIT warming hits the same ops), and a
correctness check that runs after the measured phase, outside every
timed span.

One closed-loop client: each op starts when the previous one ended.
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import time
from decimal import Decimal

import gen


class Op:
    """One unit of measured work: a query, an ingest batch or a landed
    stream batch."""

    def __init__(self, op_id: str, kind: str) -> None:
        self.id = op_id
        self.kind = kind
        self.fn = None
        self.seconds: float | None = None  # set by the op itself or by the runner
        self.error: str | None = None


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# olap_mix
# ---------------------------------------------------------------------------

# Oracle-backed keys from plans.relational / analytics: joins (broadcast,
# bucketed, salted, bloom-pruned), aggregates, windows, subqueries; plus
# the reference-parity key from plans.parity that runs the one-hot hour
# derivation of functions.taxi.  Every key reads only the generated
# corpus and keeps its scratch state under sources.layout.SCRATCH_ROOT
# or the session's warehouse dir; keys that hard-code an absolute
# scratch path or read a committed fixture are left out (see NOTES.md).
# Weight = times the key runs per round.
OLAP_KEYS = {
    "agg_group": 1,
    "join_inner": 1,
    "agg_percentile": 1,
    "join_bloom_prune": 1,
    "multi_join_pricing": 1,
    "window_rank": 1,
    "subquery_exists": 1,
    "join_salted": 1,
    "join_bucketed": 1,
    "one_hot_hour": 1,
}


class _Rows:
    """Collected result with the DataFrame surface oracle compare uses."""

    def __init__(self, columns, rows) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


class OlapMix:
    name = "olap_mix"
    ROUND_SECONDS = 5.0  # nominal round length on a 4-CPU host

    def __init__(self, seed: int, root: str, cache: str) -> None:
        self.seed = seed
        self.sf_dir = os.path.join(cache, f"corpus_{seed}")
        self.ops: list[Op] = []
        self.tracer = None

    def prepare(self) -> None:
        if not os.path.exists(os.path.join(self.sf_dir, "_DONE")):
            tmp = self.sf_dir + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            gen.corpus(self.seed, tmp)
            open(os.path.join(tmp, "_DONE"), "w").close()
            shutil.rmtree(self.sf_dir, ignore_errors=True)
            os.rename(tmp, self.sf_dir)

    def driver_bytes(self) -> int:
        return 0  # queries write only through Spark (the noop sink)

    def setup(self, spark) -> None:
        from data_engineering_assessment_spark.plans import queries

        self.spark = spark
        self.q = queries()
        for key in OLAP_KEYS:  # the same build and noop write a measured op does
            t = time.perf_counter()
            self.q[key](spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            print(f"# warm-up {key} {time.perf_counter() - t:.3f} s", file=sys.stderr)

    def _run(self, key: str, op: Op) -> None:
        tr = self.tracer
        with tr.span("plans.build", key=key):
            df = self.q[key](self.spark, self.sf_dir)
        if tr.enabled:
            with tr.span("plans.physical_plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("plans.exec"):
            df.write.format("noop").mode("overwrite").save()

    def round(self, n: int) -> list[Op]:
        keys = [k for k, w in OLAP_KEYS.items() for _ in range(w)]
        ops = []
        for i, key in enumerate(keys):
            op = Op(f"r{n}.{i}.{key}", key)
            op.fn = functools.partial(self._run, key, op)
            ops.append(op)
        self.ops += ops
        return ops

    def check(self, root: str) -> dict[str, str]:
        """Rebuild each key once more after the measured phase, so it
        takes the warm path every measured op took (memo hits, reused
        scratch layouts), collect it and compare it with its DuckDB
        oracle.  Sets each op's ``rows_out``; returns {key: reason} for
        the keys that differ."""
        import importlib.util

        from data_engineering_assessment_spark.plans import oracles

        spec = importlib.util.spec_from_file_location(
            "oracle_utils", os.path.join(root, "tests", "oracle_utils.py")
        )
        ou = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(ou)
        con = ou.duck_connection(self.sf_dir)
        bad = {}
        sql = oracles()
        rows_out = {}
        for key in OLAP_KEYS:
            df = self.q[key](self.spark, self.sf_dir)
            res = _Rows(df.columns, [tuple(r) for r in df.collect()])
            rows_out[key] = len(res.collect())
            try:
                if not res.collect():
                    raise AssertionError("empty result")
                ou.compare(res, con, sql[key])
            except AssertionError as e:
                bad[key] = str(e)[:300]
        con.close()
        for op in self.ops:
            op.rows_out = rows_out[op.kind]
        return bad


# ---------------------------------------------------------------------------
# taxi_ingest
# ---------------------------------------------------------------------------

TAXI_ROWS = 10000
TAXI_POOL = 4  # distinct generated CSV batches per seed, landed round-robin
TAXI_ROUND = (True, False, True, False)  # single_file per batch of a round


class TaxiIngest:
    name = "taxi_ingest"
    ROUND_SECONDS = 9.0  # nominal round length on a 4-CPU host

    def __init__(self, seed: int, root: str, cache: str) -> None:
        self.seed = seed
        self.pool_dir = os.path.join(cache, f"taxi_{seed}")
        self.out = os.path.join(root, "ingest")
        self.table = os.path.join(self.out, "table")
        self.batches: list[dict] = []  # every landed batch, warm-up included
        self.tracer = None

    def prepare(self) -> None:
        import json

        meta = os.path.join(self.pool_dir, "pool.json")
        if not os.path.exists(meta):
            tmp = self.pool_dir + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            pool = [
                gen.taxi_batch(self.seed, b, TAXI_ROWS, os.path.join(tmp, f"b{b}.csv"))
                for b in range(TAXI_POOL)
            ]
            with open(os.path.join(tmp, "pool.json"), "w") as fh:
                json.dump(pool, fh)
            shutil.rmtree(self.pool_dir, ignore_errors=True)
            os.rename(tmp, self.pool_dir)
        with open(meta) as fh:
            self.pool = json.load(fh)

    def _ingest(self, single: bool, compact: bool, op: Op | None) -> None:
        from data_engineering_assessment_spark.sources import tablelog
        from data_engineering_assessment_spark.sources.green_taxi import green_taxi_pipeline

        i = len(self.batches)
        src = i % TAXI_POOL
        mode = "single" if single else "parallel"
        base = os.path.join(self.out, mode, f"b{i:04d}")
        staged = os.path.join(base, "staged.parquet" if single else "staged")
        out = os.path.join(base, "out.parquet" if single else "out")
        self.batches.append({"src": src, "out": out, "single": single, "op": op})
        if op is not None:
            op.rows_in = self.pool[src]["rows"]
            op.bytes_in = self.pool[src]["bytes"]
        tr = self.tracer
        with tr.span("sources.green_taxi_pipeline", single_file=single):
            df = green_taxi_pipeline(
                self.spark, os.path.join(self.pool_dir, f"b{src}.csv"), staged, out,
                single_file=single,
            )
        if not tablelog.versions(self.table):
            tablelog.create_table(df, self.table)
        else:
            tablelog.append(df, self.table)
        if compact:
            tablelog.optimize_small_files(self.spark, self.table)

    def driver_bytes(self) -> int:
        """Bytes of files the driver writes outside Spark tasks: merged
        single-file outputs and the table's commit manifests."""
        total = _dir_bytes(os.path.join(self.table, "_log"))
        for b in self.batches:
            if b["single"]:
                base = os.path.dirname(b["out"])
                total += sum(
                    os.path.getsize(os.path.join(base, f))
                    for f in ("staged.parquet", "out.parquet")
                    if os.path.isfile(os.path.join(base, f))
                )
        return total

    def setup(self, spark) -> None:
        self.spark = spark
        for single in (True, False):
            self._ingest(single, compact=False, op=None)

    def round(self, n: int) -> list[Op]:
        ops = []
        for j, single in enumerate(TAXI_ROUND):
            compact = j == len(TAXI_ROUND) - 1
            op = Op(f"r{n}.{j}.{'single' if single else 'parallel'}", "ingest")
            op.fn = functools.partial(self._ingest, single, compact, op)
            ops.append(op)
        return ops

    def check(self, root: str) -> dict[str, str]:
        """Each batch's output holds exactly the generated valid rows
        (count, per-pickup-hour counts, summed durations) and its
        one-hot hour flags sum to the row count; the table holds every
        landed row."""
        from pyspark.sql import functions as F

        from data_engineering_assessment_spark.sources import tablelog

        bad = {}
        hour_cols = [f"Pickup_hour_is_{h}" for h in range(24)]
        for b in self.batches:
            want = self.pool[b["src"]]
            df = self.spark.read.parquet(b["out"])
            row = df.agg(
                F.count("*").alias("n"),
                F.sum("Duration_seconds").alias("dur"),
                *[F.sum(c).alias(c) for c in hour_cols],
            ).collect()[0]
            got_hours = [row[c] for c in hour_cols]
            problems = []
            if row["n"] != want["rows"]:
                problems.append(f"rows {row['n']} != {want['rows']}")
            if sum(got_hours) != row["n"]:
                problems.append(f"sum(Pickup_hour_is_*) {sum(got_hours)} != rows {row['n']}")
            if got_hours != want["hour_counts"]:
                problems.append("per-hour counts differ")
            if row["dur"] != want["duration_sum"]:
                problems.append(f"duration sum {row['dur']} != {want['duration_sum']}")
            if problems:
                key = b["op"].id if b["op"] is not None else b["out"]
                bad[key] = "; ".join(problems)
        n_table = tablelog.read_version(self.spark, self.table).count()
        n_want = sum(self.pool[b["src"]]["rows"] for b in self.batches)
        if n_table != n_want:
            bad["table"] = f"table rows {n_table} != landed rows {n_want}"
        return bad


# ---------------------------------------------------------------------------
# event_stream
# ---------------------------------------------------------------------------

EVENT_ROWS = 4000
EVENT_WARMUP = 1
EVENT_MAX_BATCHES = 40  # enough for a traced run of --seconds 60


class EventStream:
    name = "event_stream"
    ROUND_SECONDS = 6.0  # nominal round length on a 4-CPU host

    def __init__(self, seed: int, root: str, cache: str) -> None:
        self.seed = seed
        self.base = os.path.join(root, "stream")
        self.src = os.path.join(self.base, "landing")
        self.target = os.path.join(self.base, "window_counts")
        self.table = os.path.join(self.base, "events_dedup")
        self.ckpt = os.path.join(self.base, "checkpoints")
        self.landed = 0
        self.tracer = None

    def prepare(self) -> None:
        self.batches = gen.event_batches(self.seed, EVENT_MAX_BATCHES, EVENT_ROWS)
        os.makedirs(self.src, exist_ok=True)

    def _land(self) -> int:
        import pyarrow.parquet as pq

        b = self.batches[self.landed]
        name = f"batch-{self.landed:05d}.parquet"
        tmp = os.path.join(self.src, f".{name}.tmp")  # hidden from the file source
        pq.write_table(b["table"], tmp)
        os.rename(tmp, os.path.join(self.src, name))
        self.landed += 1
        return os.path.getsize(os.path.join(self.src, name))

    def _trigger(self, op: Op | None) -> None:
        from data_engineering_assessment_spark.streaming import sinks, windows

        tr = self.tracer
        runs = []
        with tr.span("streaming.run", sink="upsert"):
            q = sinks.start_upsert_sink(
                windows.tumbling_counts(windows.read_event_stream(self.spark, self.src)),
                self.target, ["window_start", "event_type"],
                checkpoint=os.path.join(self.ckpt, "window_counts"),
            )
            q.awaitTermination()
        runs.append(q.recentProgress)
        with tr.span("streaming.run", sink="tablelog"):
            q = sinks.start_tablelog_sink(
                windows.stream_dedup(windows.read_event_stream(self.spark, self.src)),
                self.table, checkpoint=os.path.join(self.ckpt, "events_dedup"),
            )
            q.awaitTermination()
        runs.append(q.recentProgress)
        for q_runs in runs:
            for p in q_runs:
                if p.get("exception"):
                    raise RuntimeError(p["exception"])
        if op is not None:
            op.progress = runs

    def driver_bytes(self) -> int:
        """Bytes of files written outside Spark's output committers:
        stream checkpoints (offsets, commits, state) and the dedup
        table's commit manifests."""
        return _dir_bytes(self.ckpt) + _dir_bytes(os.path.join(self.table, "_log"))

    def setup(self, spark) -> None:
        self.spark = spark
        for _ in range(EVENT_WARMUP):
            self._land()
            self._trigger(None)

    def round(self, n: int) -> list[Op]:
        op = Op(f"r{n}.batch", "batch")

        def run():
            if self.landed >= EVENT_MAX_BATCHES:
                raise RuntimeError("out of generated event batches")
            op.bytes_in = self._land()
            op.rows_in = self.batches[self.landed - 1]["table"].num_rows
            t0 = time.perf_counter()
            self._trigger(op)
            op.seconds = time.perf_counter() - t0  # freshness after landing

        op.fn = run
        return [op]

    def check(self, root: str) -> dict[str, str]:
        """The upsert target equals the batch tumbling aggregation over
        every landed on-time event, and the dedup table holds each
        landed on-time event_id exactly once."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from data_engineering_assessment_spark.sources import tablelog

        landed = self.batches[: self.landed]
        ev = pa.concat_tables([b["table"].filter(pa.array(~b["late"])) for b in landed])
        ts = ev.column("ts").cast(pa.int64()).to_numpy() // 1_000_000
        cents = np.round(ev.column("value").to_numpy() * 100).astype(np.int64)
        want: dict[tuple, list[int]] = {}
        for w, t, c in zip(ts - ts % 3600, ev.column("event_type").to_pylist(), cents):
            acc = want.setdefault((int(w), t), [0, 0])
            acc[0] += 1
            acc[1] += int(c)
        got_tbl = pq.read_table(self.target)
        got = {
            (int(w), t): [int(n), int(Decimal(s) * 100)]
            for w, t, n, s in zip(*(got_tbl.column(c).to_pylist() for c in
                                    ("window_start", "event_type", "n", "sum_value")))
        }
        bad = {}
        if got != want:
            diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
            bad["window_counts"] = f"{len(diff)} windows differ from the batch aggregation, e.g. {diff[:3]}"
        ids = [r[0] for r in tablelog.read_version(self.spark, self.table).select("event_id").collect()]
        want_ids = set(ev.column("event_id").to_pylist())
        if len(ids) != len(set(ids)):
            bad["events_dedup"] = f"{len(ids) - len(set(ids))} duplicate event_ids"
        elif set(ids) != want_ids:
            bad["events_dedup"] = (
                f"{len(want_ids - set(ids))} on-time ids missing, "
                f"{len(set(ids) - want_ids)} unexpected ids"
            )
        return bad


WORKLOADS = {w.name: w for w in (OlapMix, TaxiIngest, EventStream)}
