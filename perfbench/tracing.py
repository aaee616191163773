"""What a traced run records, all from outside the program.

- ``Tracer`` wraps the public functions of the layer modules and keeps
  one span per call (name, start, end, parent). Spans live in memory
  until the iteration's numbers are taken.
- ``SparkLog`` reads Spark's own job and stage records from the status
  store after an iteration. Jobs are attributed to spans by submission
  time, not by job group: Spark runs each streaming query's
  micro-batches under that query's own group, and the client is
  single-threaded, so every job submitted inside a span belongs to it.
- ``StreamProgress`` is a ``StreamingQueryListener`` that keeps every
  micro-batch's progress report.
- ``cpu_seconds`` / ``peak_rss_mb`` read the driver and the JVM it
  launched from ``/proc``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import resource
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

import intervals as iv

PACKAGE = "flink_luad_pipeline_spark"

#: modules whose public functions get spans, as named in the metrics
LAYERS = (
    "pipeline",
    "ml",
    "catalog",
    "operators.graph",
    "operators.dedup",
    "functions.text",
    "operators.io",
    "streaming.ops",
    "operators.similarity",
    "operators.clustering",
)

SPAN_FIELDS = ("self_s", "calls", "jobs", "tasks", "driver_only_s")


@dataclass
class Span:
    name: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    bookkeeping_s: float = 0.0
    _main_stack: list[int] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _restore: list[tuple[object, str, object]] = field(default_factory=list)

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t_in = time.perf_counter()
            stack = self._stack()
            # a call on another thread (a foreachBatch callback, a write
            # pool) nests under the span the client thread is blocked in
            outer = stack or self._main_stack
            span = Span(name, outer[-1] if outer else None)
            with self._lock:
                stack.append(len(self.spans))
                self.spans.append(span)
            span.start = time.time()
            self.bookkeeping_s += time.perf_counter() - t_in
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.time()
                t_out = time.perf_counter()
                stack.pop()
                self.bookkeeping_s += time.perf_counter() - t_out

        return traced

    def install(self) -> None:
        """Wrap every public function of ``LAYERS``, wherever a loaded
        package module holds a reference to it (``from x import f``
        binds the name in the importing module too)."""
        originals: dict[int, tuple[str, object]] = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"{PACKAGE}.{layer}")
            for name, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                    and not name.startswith("_")
                ):
                    originals[id(fn)] = (f"{layer}.{name}", fn)
        wrappers = {k: self._wrap(n, fn) for k, (n, fn) in originals.items()}
        for mname, mod in list(sys.modules.items()):
            if mname != PACKAGE and not mname.startswith(PACKAGE + "."):
                continue
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None and originals[id(val)][1] is val:
                    self._restore.append((mod, attr, val))
                    setattr(mod, attr, w)

    def uninstall(self) -> None:
        for mod, attr, val in self._restore:
            setattr(mod, attr, val)
        self._restore.clear()

    def reset(self) -> None:
        self.spans.clear()
        self.bookkeeping_s = 0.0

    def layer_metrics(self, jobs: list[dict], names: list[str]) -> dict:
        """``<span>.<field>`` for each span name in ``names``: self time,
        calls, and the jobs, tasks and driver-only time of the self time."""
        children: dict[int, list[iv.Interval]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        busy = [(j["start"], j["end"]) for j in jobs]
        out = {f"{n}.{f}": 0.0 for n in names for f in SPAN_FIELDS}
        for i, s in enumerate(self.spans):
            if s.name not in names:
                continue
            own = iv.self_intervals((s.start, s.end), children.get(i, []))
            mine = [j for j in jobs if iv.contains(own, j["start"])]
            out[f"{s.name}.self_s"] += iv.length(own)
            out[f"{s.name}.calls"] += 1
            out[f"{s.name}.jobs"] += len(mine)
            out[f"{s.name}.tasks"] += sum(j["tasks"] for j in mine)
            out[f"{s.name}.driver_only_s"] += iv.idle(own, busy)
        return out


class SparkLog:
    """Job and stage records from ``SparkContext``'s status store, read
    in one JSON round trip each."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._gateway = sc._gateway
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _dump(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until every listener (status store, streaming listeners)
        has seen every event posted so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self, t0: float, t1: float) -> list[dict]:
        """Jobs submitted in ``[t0, t1]`` (epoch seconds)."""
        self.drain()
        store = self._sc.statusStore()
        out = []
        for j in self._dump(store.jobsList(None)):
            sub = j.get("submissionTime")
            if sub is None or not t0 <= sub / 1000 <= t1:
                continue
            end = j.get("completionTime")
            out.append(
                {
                    "start": sub / 1000,
                    "end": (end / 1000) if end is not None else t1,
                    "tasks": j["numCompletedTasks"] + j["numFailedTasks"],
                    "failed_tasks": j["numFailedTasks"],
                    "stages": j["stageIds"],
                }
            )
        return out

    def stages(self, jobs: list[dict]) -> list[dict]:
        """The stage attempts ``jobs`` ran (skipped stages excluded)."""
        stage_ids = {sid for j in jobs for sid in j["stages"]}
        store = self._sc.statusStore()
        no_quantiles = self._gateway.new_array(self._gateway.jvm.double, 0)
        return [
            s
            for s in self._dump(store.stageList(None, False, False, no_quantiles, None))
            if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")
        ]


def engine_metrics(t0: float, t1: float, jobs: list[dict], stages: list[dict]) -> dict:
    """Spark-engine totals of one iteration ``[t0, t1]``: its jobs (from
    ``SparkLog.jobs``) and the stage attempts they ran."""
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.failed_tasks": sum(j["failed_tasks"] for j in jobs),
        "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / mb,
        "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb,
        "spark.spill_mb": sum(s["diskBytesSpilled"] for s in stages) / mb,
        "driver.only_s": iv.idle([(t0, t1)], [(j["start"], j["end"]) for j in jobs]),
    }


class StreamProgress(StreamingQueryListener):
    """Keeps ``(numInputRows, durationMs)`` of every micro-batch."""

    def __init__(self):
        super().__init__()
        self.batches: list[tuple[int, dict]] = []
        self.callback_s = 0.0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        t = time.perf_counter()
        p = event.progress
        self.batches.append((int(p.numInputRows), dict(p.durationMs)))
        self.callback_s += time.perf_counter() - t

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def metrics(self) -> dict:
        def total(key: str) -> float:
            return sum(d.get(key, 0) for _, d in self.batches) / 1e3

        triggers = [d.get("triggerExecution", 0) / 1e3 for _, d in self.batches]
        return {
            "streaming.batches": len(self.batches),
            "streaming.input_rows": sum(n for n, _ in self.batches),
            "streaming.add_batch_s": total("addBatch"),
            "streaming.query_planning_s": total("queryPlanning"),
            "streaming.wal_commit_s": total("walCommit"),
            "streaming.latest_offset_s": total("latestOffset"),
            "streaming.trigger_s": total("triggerExecution"),
            "streaming.batch_latency_s": statistics.median(triggers) if triggers else 0.0,
        }


CATALYST_PHASES = ("analysis", "optimization", "planning")


def catalyst_metrics(df) -> dict:
    """Analysis, optimization and planning time of ``df``'s own plan."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in CATALYST_PHASES:
        summary = phases.get(phase)  # a scala.Option
        out[f"catalyst.{phase}_s"] = (
            summary.get().durationMs() / 1e3 if summary.isDefined() else 0.0
        )
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _proc_stat(int(entry))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for child in kids.get(pid, []):
            out.append(child)
            todo.append(child)
    return out


def cpu_seconds() -> float:
    """CPU time of this process and every live descendant (the JVM and
    its Python workers), including children they have already reaped."""
    t = os.times()
    total = t.user + t.system + t.children_user + t.children_system
    for pid in _descendants(os.getpid()):
        st = _proc_stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            total += sum(int(x) for x in st[11:15]) / _TICK
    return total


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver plus the JVM (VmHWM); the
    driver's alone once the JVM is gone."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    try:
        with open(f"/proc/{jvm_pid}/status") as f:
            kb += next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    except OSError:
        pass
    return kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_proc_stat(os.getpid())[19]) / _TICK
