"""Spans and counters for the traced run.

The traced run wraps the public functions of each layer of the package
at run time (``Tracer.install``) and records a span per call: name,
start, end, parent span and op id. Spans stay in memory until the run
ends. Nothing inside ``mini_sql_engine_spark`` is edited; the wrappers
replace the layer functions wherever the package holds a reference to
them and are removed by ``Tracer.uninstall``.

Below the package, ``JvmProbe`` reads what Spark records itself: the
Catalyst phase times of each executed query (a ``QueryExecutionListener``
registered through py4j), and the jobs, stages and task metrics of each
op (its job group in the status store).
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from dataclasses import dataclass

from check import clip, subtract_length, union_length

PKG = "mini_sql_engine_spark"

# module:function -> span name
FUNCTION_SPANS = {
    f"{PKG}.session:get_spark": "session.start",
    f"{PKG}.plans.materialize:materialized": "plans.materialized",
    f"{PKG}.sources.csv_metadata:register_ref_tables": "sources.csv_register",
}
# module:Class.method -> span name
METHOD_SPANS = {
    f"{PKG}.catalog:Catalog.table": "catalog.table",
    f"{PKG}.sources.acid:AcidTable.create": "sources.acid.commit",
    f"{PKG}.sources.acid:AcidTable.append": "sources.acid.commit",
    f"{PKG}.sources.acid:AcidTable.overwrite": "sources.acid.commit",
    f"{PKG}.sources.acid:AcidTable.merge": "sources.acid.commit",
    f"{PKG}.sources.acid:AcidTable.delete_where": "sources.acid.commit",
    f"{PKG}.sources.acid:AcidTable.read": "sources.acid.read",
    "pyspark.sql.session:SparkSession.sql": "session.sql",
}
# every public function defined in the module -> span name
MODULE_SPANS = {
    f"{PKG}.pipeline.dedup": "pipeline.dedup",
    f"{PKG}.pipeline.graph": "pipeline.graph",
    f"{PKG}.pipeline.similarity": "pipeline.similarity",
    f"{PKG}.pipeline.clean": "pipeline.clean",
}


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with the JVM's clock
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    op: int | None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.op: int | None = None
        self._local = threading.local()
        self._undo: list = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> int:
        stack = self._stack()
        self.spans.append(Span(name, time.time(), 0.0,
                               stack[-1] if stack else -1, self.op))
        stack.append(len(self.spans) - 1)
        return stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack().pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)
        return traced

    # -------------------------------------------------------------- #

    def _replace_refs(self, old, new) -> None:
        """Point every package-level reference to ``old`` at ``new``."""
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith(PKG) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is old:
                    setattr(mod, attr, new)
                    self._undo.append((mod, attr, old))

    def install(self) -> None:
        import importlib

        for target, name in FUNCTION_SPANS.items():
            mname, fname = target.split(":")
            old = getattr(importlib.import_module(mname), fname)
            self._replace_refs(old, self.wrap(old, name))
        for target, name in METHOD_SPANS.items():
            mname, path = target.split(":")
            cname, meth = path.split(".")
            cls = getattr(importlib.import_module(mname), cname)
            raw = cls.__dict__[meth]
            if isinstance(raw, classmethod):
                new = classmethod(self.wrap(raw.__func__, name))
            else:
                new = self.wrap(raw, name)
            setattr(cls, meth, new)
            self._undo.append((cls, meth, raw))
        for mname, name in MODULE_SPANS.items():
            mod = importlib.import_module(mname)
            for fname, fn in list(vars(mod).items()):
                if (callable(fn) and not fname.startswith("_")
                        and getattr(fn, "__module__", None) == mname
                        and not isinstance(fn, type)):
                    self._replace_refs(fn, self.wrap(fn, name))

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover
    (children may overlap each other; the union is subtracted)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = union_length(clip(children.get(i, []), s.start, s.end))
        out.append(max(0.0, (s.end - s.start) - covered))
    return out


def layer_totals(spans: list[Span]) -> dict:
    """name -> [calls, self seconds, wall seconds] over ``spans``."""
    st = self_times(spans)
    out: dict[str, list] = {}
    for s, t in zip(spans, st):
        agg = out.setdefault(s.name, [0, 0.0, 0.0])
        agg[0] += 1
        agg[1] += t
        agg[2] += s.end - s.start
    return out


def split_op(wall: tuple[float, float], build: list[tuple[float, float]],
             jobs: list[tuple[float, float]],
             phases: list[tuple[float, float]]) -> dict:
    """Split one op's wall time into build, plan, execute and residual.

    execute is the time covered by the op's jobs; plan the time covered
    by Catalyst phases outside jobs; build the time in the program's
    build calls (a Qkey builder; the CLI's table registration and
    ``spark.sql``) outside both; residual what none of them covers
    (py4j, scheduling, result handling). ``sum_s`` adds each source's
    own time (build outside its jobs, phases, jobs) without removing the
    overlaps between sources, plus the residual: it matches the wall
    when the sources do not double count each other."""
    lo, hi = wall
    jobs = clip(jobs, lo, hi)
    phases = clip(phases, lo, hi)
    build = clip(build, lo, hi)
    execute = union_length(jobs)
    plan = subtract_length(phases, jobs)
    build_s = subtract_length(build, jobs + phases)
    residual = max(0.0, (hi - lo) - union_length(jobs + phases + build))
    build_jobs = [j for b in build for j in clip(jobs, *b)]
    naive = (union_length(build) - union_length(build_jobs)
             + union_length(phases) + execute)
    return {"wall_s": hi - lo, "build_s": build_s, "plan_s": plan,
            "execute_s": execute, "residual_s": residual,
            "sum_s": naive + residual, "build_jobs": len(build_jobs)}


class JvmProbe:
    """Catalyst phases and status-store execution metrics per op."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.events: list[dict] = []
        self._lock = threading.Lock()
        ensure_callback_server_started(self.sc._gateway)
        probe = self

        class Listener:
            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

            def onSuccess(self, func, qe, duration_ns):
                probe._record(func, qe)

            def onFailure(self, func, qe, exc):
                probe._record(func, qe)

        self._listener = Listener()
        spark._jsparkSession.listenerManager().register(self._listener)

    def _record(self, func, qe) -> None:
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            e = it.next()
            phases[e._1()] = (e._2().startTimeMs() / 1e3,
                              e._2().durationMs() / 1e3)
        with self._lock:
            self.events.append({"func": func, "phases": phases})

    def begin_op(self, group: str, desc: str) -> None:
        self.sc.setJobGroup(group, desc)

    def drain(self) -> None:
        """Wait until Spark's listeners (status store, query listener)
        have seen every event of the finished op."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def take_events(self) -> list[dict]:
        with self._lock:
            out, self.events = self.events, []
        return out

    @staticmethod
    def phases_of(df) -> dict:
        out = {}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            e = it.next()
            out[e._1()] = (e._2().startTimeMs() / 1e3, e._2().durationMs() / 1e3)
        return out

    def exec_stats(self, group: str) -> dict:
        jobs, stages = [], set()
        m = dict.fromkeys(("tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
                           "shuffle_read_bytes", "shuffle_write_bytes",
                           "spill_bytes"), 0)
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self.store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                jobs.append((sub.get().getTime() / 1e3,
                             comp.get().getTime() / 1e3))
            ids = jd.stageIds()
            for i in range(ids.size()):
                stages.add(ids.apply(i))
        ran = 0
        for sid in stages:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # a skipped stage has no attempt
                continue
            if sd.numTasks() == 0 or str(sd.status()) == "SKIPPED":
                continue
            ran += 1
            m["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            m["failed_tasks"] += sd.numFailedTasks()
            m["run_s"] += sd.executorRunTime() / 1e3
            m["cpu_s"] += sd.executorCpuTime() / 1e9
            m["gc_s"] += sd.jvmGcTime() / 1e3
            m["shuffle_read_bytes"] += (sd.shuffleRemoteBytesRead()
                                        + sd.shuffleLocalBytesRead())
            m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        m.update(jobs=len(jobs), stages=ran, job_intervals=jobs)
        return m

    def checkpoint_bytes(self) -> int:
        total = 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            total += info.memSize() + info.diskSize()
        return total

    def close(self, spark) -> None:
        try:
            spark._jsparkSession.listenerManager().unregister(self._listener)
        except Exception:  # the session may already be stopped
            pass
