"""Spans around calls into the package's layers, and JVM-side counters.

``Tracer.install`` wraps the public functions of each layer module and
rebinds every alias of them in the package's loaded modules, so both
``from x import f`` bindings made at import time and function-local
imports made at call time reach the wrapper. A span records its layer,
function, start, end, parent span (same thread), the entry and pass it ran
under, and the Spark job counter at both ends; self time and self jobs
subtract the direct children.

``Jvm`` reads counters that need no listener of our own: the DAG
scheduler's job/stage counters and the task scheduler's task counter (ids
are handed out sequentially, so a difference counts every job, including
ones submitted from Spark-driver thread pools and streaming micro-batches that
carry no job group), the app status store's per-stage metrics, the SQL
status store's per-operator metrics, the GC beans, and ``/proc/<pid>`` of
the Spark driver JVM.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import re
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "data_engineer_development_spark"

#: layer -> [(module, function names or None for every public function and
#: public method of a class defined in the module)]
LAYERS: dict[str, list[tuple[str, list[str] | None]]] = {
    "sources": [(f"{PKG}.sources.readers", ["load_table"])],
    "snapshots.commit": [
        (
            f"{PKG}.operators.snapshots",
            [
                "append_snapshot",
                "merge_cdc",
                "checkpoint_log",
                "apply_compaction",
                "expire_versions",
            ],
        )
    ],
    "snapshots.read": [(f"{PKG}.operators.snapshots", ["read_asof", "snapshot_log"])],
    "streaming": [
        (f"{PKG}.streaming.windows", ["run_to_memory_sink"]),
        (f"{PKG}.streaming.stateful", ["stream_neardup_gate", "stream_domain_cap_gate"]),
    ],
    "similarity": [
        (
            f"{PKG}.operators.similarity",
            ["semdedup", "cosine_topk", "bucket_assign", "quantized_neardup_pairs"],
        )
    ],
    "dedup": [(f"{PKG}.operators.dedup", None)],
    "graph": [(f"{PKG}.operators.graph", None)],
    "bpe": [(f"{PKG}.operators.bpe", None)],
    "cache": [(f"{PKG}.cache", ["local_checkpoint_tracked"])],
    "medallion": [(f"{PKG}.medallion", None)],
    "catalog": [(f"{PKG}.catalog", None)],
    "kv": [(f"{PKG}.kv", None)],
}


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    tag: tuple
    t0: float
    jobs0: int
    t1: float = 0.0
    jobs1: int = 0
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, jobs) -> None:
        self._jobs = jobs  # () -> current job counter
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.spans: dict[int, Span] = {}
        self.tag: tuple = ()

    def _wrap(self, layer: str, fn):
        name = getattr(fn, "__qualname__", fn.__name__)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = getattr(self._local, "stack", None)
            if stack is None:
                stack = self._local.stack = []
            with self._lock:
                sid = self._next
                self._next += 1
            parent = stack[-1] if stack else None
            span = Span(sid, layer, name, parent, self.tag, time.perf_counter(), self._jobs())
            with self._lock:
                self.spans[sid] = span
                if parent is not None:
                    self.spans[parent].children.append(sid)
            stack.append(sid)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                span.jobs1 = self._jobs()
                span.t1 = time.perf_counter()

        return traced

    def install(self) -> None:
        originals: dict[int, object] = {}
        for layer, targets in LAYERS.items():
            for mod_name, names in targets:
                mod = importlib.import_module(mod_name)
                for attr, obj in list(vars(mod).items()):
                    if attr.startswith("_"):
                        continue
                    if names is not None and attr not in names:
                        continue
                    if inspect.isfunction(obj) and obj.__module__ == mod_name:
                        originals[id(obj)] = self._wrap(layer, obj)
                    elif names is None and inspect.isclass(obj) and obj.__module__ == mod_name:
                        for m, fn in list(vars(obj).items()):
                            if not m.startswith("_") and inspect.isfunction(fn):
                                setattr(obj, m, self._wrap(layer, fn))
        # rebind every alias (module globals) of a wrapped function
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None:
                    setattr(mod, attr, w)

    def layer_totals(self) -> dict[tuple, dict[str, dict[str, float]]]:
        """{tag: {layer: {"s": self seconds, "jobs": self jobs, "calls": n}}}.

        ``calls`` counts spans whose parent is not in the same layer, so a
        commit that calls another commit function counts once.
        """
        out: dict[tuple, dict[str, dict[str, float]]] = {}
        for s in self.spans.values():
            kids = [self.spans[c] for c in s.children]
            self_s = (s.t1 - s.t0) - sum(k.t1 - k.t0 for k in kids)
            self_jobs = (s.jobs1 - s.jobs0) - sum(k.jobs1 - k.jobs0 for k in kids)
            d = out.setdefault(s.tag, {}).setdefault(
                s.layer, {"s": 0.0, "jobs": 0, "calls": 0}
            )
            d["s"] += max(self_s, 0.0)
            d["jobs"] += max(self_jobs, 0)
            par = self.spans.get(s.parent) if s.parent is not None else None
            if par is None or par.layer != s.layer:
                d["calls"] += 1
        return out


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.+?),(\d+),([A-Za-z]+)\)")
_MAP_KEY = re.compile(r"(?:^\w*Map\(|, )(\d+) -> ")

#: SQL operator metric name -> per-pass total reported as exec.<key>
SQL_METRICS = {
    "sort time": "sort_s",
    "time to run Python workers": "python_worker_s",
    "data sent to Python workers": "python_bytes_sent",
}


def _metric_value(text: str) -> float:
    if "\n" in text:  # "total (min, med, max ...)\n1.2 MiB (...)"
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


class Jvm:
    """Counters of the Spark driver JVM, read through the py4j gateway."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._tasks = sc.taskScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gc = list(mf.getGarbageCollectorMXBeans())
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def jobs(self) -> int:
        return int(str(self._dag.numTotalJobs()))

    def stages(self) -> int:
        return int(str(self._dag.nextStageId()))

    def tasks(self) -> int:
        return int(str(self._tasks.nextTaskId()))

    def gc_s(self) -> float:
        return sum(int(g.getCollectionTime()) for g in self._gc) / 1000.0

    def proc_io(self) -> dict[str, int]:
        with open(f"/proc/{self.pid}/io") as fh:
            return {k: int(v) for k, v in (ln.split(": ") for ln in fh)}

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for ln in fh:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def snapshot(self) -> dict[str, float]:
        io = self.proc_io()
        return {
            "jobs": self.jobs(),
            "stages": self.stages(),
            "tasks": self.tasks(),
            "gc_s": self.gc_s(),
            "read_bytes": io["read_bytes"],
            "write_bytes": io["write_bytes"],
            "executions": int(self._sql.executionsCount()),
        }

    def exec_totals(self, before: dict, after: dict) -> dict[str, float]:
        """Stage and SQL operator metrics of the work between two snapshots."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(
            ["shuffle_bytes", "shuffle_records", "scan_bytes", "spill_bytes"], 0.0
        )
        for sid in range(before["stages"], after["stages"]):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — py4j: stage created, never submitted
                continue
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["shuffle_records"] += st.shuffleWriteRecords()
            out["scan_bytes"] += st.inputBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out.update(dict.fromkeys(SQL_METRICS.values(), 0.0))
        n = after["executions"] - before["executions"]
        if n > 0:
            execs = self._sql.executionsList(before["executions"], n)
            for i in range(execs.size()):
                eid = execs.apply(i).executionId()
                names = {
                    acc: name
                    for name, acc, _ in _PLAN_METRIC.findall(
                        execs.apply(i).metrics().toString()
                    )
                    if name in SQL_METRICS
                }
                if not names:
                    continue
                parts = _MAP_KEY.split(self._sql.executionMetrics(eid).toString())
                for acc, text in zip(parts[1::2], parts[2::2]):
                    if acc in names:
                        out[SQL_METRICS[names[acc]]] += _metric_value(text)
        return out
