"""Spans around calls into the program's layers, and Spark's own counters.

Spans are recorded only from the benchmark's files: either around a
call the benchmark makes itself (``Tracer.span``), or by a wrapper
installed over a layer's public function (``Tracer.wrap``) that the
program calls internally.  A wrapper replaces the function under every
name the program's modules bound it to; a listed wrapper that never
fires is reported as an error, never as a zero.

Spark counters are read from outside the program after the measured
phase: stage metrics from the app status store (``stageList``), SQL
node metrics from the session's ``SQLAppStatusStore``.  A span records
the scheduler's next job id and next stage id at its start and end, so
the stages it caused are exactly the ids in between (one closed-loop
client, ops run one at a time).
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import sys
import time

PACKAGE = "data_engineering_assessment_spark"


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` costs one branch."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.op: str | None = None
        self.fired: dict[str, int] = {}
        self._stack: list[int] = []
        self._dag = None
        self._undo: list[tuple[object, str, object]] = []

    def bind(self, spark) -> None:
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def marks(self) -> tuple[int, int]:
        """(next job id, next stage id) of the Spark scheduler."""
        return self._dag.nextJobId(), self._dag.nextStageId()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        job0, stage0 = self.marks()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "job0": job0,
            "stage0": stage0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["job1"], rec["stage1"] = self.marks()

    def wrap(self, module, attr: str, name: str, post=None) -> None:
        """Record a span ``name`` around every call of ``module.attr``.
        ``post(rec, args, kwargs, result)`` may add attributes."""
        orig = getattr(module, attr)
        self.fired.setdefault(name, 0)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            self.fired[name] += 1
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if post is not None:
                    post(rec, args, kwargs, out)
            return out

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE):
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, wrapper)
                        self._undo.append((mod, key, orig))

    def unwrap(self) -> None:
        for mod, key, orig in reversed(self._undo):
            setattr(mod, key, orig)
        self._undo.clear()

    def unfired(self) -> list[str]:
        return sorted(k for k, v in self.fired.items() if v == 0)

    def dump(self, path: str) -> None:
        keep = ("id", "name", "parent", "op", "start", "end")
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps({k: rec.get(k) for k in keep}) + "\n")


# SQL node metrics the per-layer reductions read (all sum-type).
NODE_METRICS = frozenset({
    "number of output rows", "number of files read", "number of written files",
    "data sent to Python workers",
})
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric value: '60,000', '1018.0 KiB',
    or the first line 'total (min, med, max ...)' followed by values."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    m = re.match(r"([-\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    return num


class SparkCounters:
    """Stage and SQL-node counters of one Spark application."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._jvm = jvm

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the status listeners have seen every event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def stages(self, lo: int, hi: int) -> dict[int, dict]:
        """Stage data for ids in [lo, hi).  Raises if any of them was
        evicted (``spark.ui.retainedStages``): attribution by id range
        would silently undercount."""
        empty = self._sc._gateway.new_array(self._jvm.double, 0)
        lst = self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False, empty, self._jvm.java.util.ArrayList()
        )
        out = {}
        for s in self._json(lst):
            if lo <= s["stageId"] < hi and s.get("attemptId", 0) == 0:
                out[s["stageId"]] = s
        missing = sorted(set(range(lo, hi)) - set(out))
        if missing:
            raise RuntimeError(
                f"{len(missing)} stages in [{lo}, {hi}) are not in the status store "
                f"(evicted by spark.ui.retainedStages?): {missing[:10]}"
            )
        return out

    def executions(self) -> list[dict]:
        """SQL executions: id, job ids, and per plan node its name and
        metric values."""
        out = []
        for e in self._json(self._sql.executionsList()):
            eid = e["executionId"]
            values = self._json(self._sql.executionMetrics(eid))
            nodes = []
            for n in self._json(self._sql.planGraph(eid).allNodes()):
                ms = {}
                for m in n.get("metrics", []):
                    v = values.get(str(m["accumulatorId"]))
                    if v is not None and m["name"] in NODE_METRICS:
                        ms[m["name"]] = parse_metric(v)
                nodes.append({"name": n.get("name", ""), "metrics": ms})
            out.append({"id": eid, "jobs": [int(j) for j in e["jobs"]], "nodes": nodes})
        return out

    def persisted_bytes(self) -> int:
        return sum(int(i.memSize()) + int(i.diskSize()) for i in self._jsc.getRDDStorageInfo())

    def jvm_peak_rss_mb(self) -> float:
        pid = self._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found for the driver JVM")
