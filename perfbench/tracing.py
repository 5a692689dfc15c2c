"""Outside-in tracing for the benchmark's traced runs.

Spans are recorded around calls INTO the program's layers by wrappers
installed from here, never by edits to the program: a wrapper replaces
a function where callers look it up (a module attribute or a class
attribute) and records name, start, end, parent span and op id. Spans
stay in memory and are summarised when the run ends.

Scheduler numbers are read from ``SparkContext.statusTracker()``. Jobs
are attributed to an op by set difference over the ungrouped job ids
plus every job group the benchmark set: thread-pool threads inside the
program do not inherit the client thread's job group, and the status
store keeps only the most recent ``spark.ui.retainedJobs`` jobs, so
neither a single group nor a length difference counts correctly.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench"


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[tuple] = []  # (id, parent, op_id, name, start, end)
        self.op_id: int | None = None
        self._op_span: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._groups: set[str] = set()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        #: seconds spent in wrapper bookkeeping outside the wrapped calls
        self.overhead_s = 0.0

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else self._op_span
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append((sid, parent, self.op_id, name, start, end))

    @contextmanager
    def op(self, op_id: int | None, name: str):
        """Root span of one benchmark op; spans opened in other threads
        while it runs take it as their parent."""
        self.op_id = op_id
        try:
            with self.span(name) as sid:
                self._op_span = sid
                yield sid
        finally:
            self._op_span = None
            self.op_id = None

    # -- job groups ----------------------------------------------------
    def set_group(self, group: str) -> str | None:
        """Set this thread's job group; returns the previous one."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        with self._lock:
            self._groups.add(group)
        self.sc.setJobGroup(group, group)
        return prev

    def restore_group(self, prev: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def known_jobs(self) -> set[int]:
        st = self.sc.statusTracker()
        ids = set(st.getJobIdsForGroup(None))
        with self._lock:
            groups = list(self._groups)
        for g in groups:
            ids.update(st.getJobIdsForGroup(g))
        return ids

    def jobs_in_group(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_stats(self, job_ids) -> dict[str, int]:
        """Stages, tasks and failed tasks behind ``job_ids`` (stages the
        status store has already dropped are not counted)."""
        st = self.sc.statusTracker()
        stages: set[int] = set()
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = failed = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
                failed += info.numFailedTasks
        return {"jobs": len(job_ids), "stages": len(stages), "tasks": tasks,
                "failed_tasks": failed}

    def gc_seconds(self) -> float:
        jvm = self.spark._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    # -- wrappers ------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, group: bool = False,
             on_return=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. With
        ``group`` the call runs under its own job group (a fresh one per
        call) so its jobs can be counted even on pool threads;
        ``on_return(args, result)`` records counts at the boundary."""
        orig = getattr(owner, attr)
        tracer = self
        seq = itertools.count()

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            prev = g = None
            if group:
                g = f"{GROUP_PREFIX}:{name}:{tracer.op_id}:{next(seq)}"
                prev = tracer.set_group(g)
            try:
                with tracer.span(name if g is None else f"{name}|{g}"):
                    t1 = time.perf_counter()
                    try:
                        out = orig(*args, **kwargs)
                    finally:
                        t2 = time.perf_counter()
            finally:
                if group:
                    tracer.restore_group(prev)
            with tracer._lock:  # wrappers run on the program's pool threads too
                if on_return is not None:
                    on_return(args, out)
                tracer.overhead_s += (t1 - t0) + (time.perf_counter() - t2)
            return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def wrap_everywhere(self, package: str, func, name: str, **kw) -> int:
        """Wrap ``func`` under every module attribute of ``package`` that
        is bound to it (``from x import f`` copies the binding into each
        importing module). Returns the number of bindings wrapped."""
        import sys

        owners = [
            m for mname, m in list(sys.modules.items())
            if m is not None and (mname == package or mname.startswith(package + "."))
            and getattr(m, func.__name__, None) is func
        ]
        for m in owners:
            self.wrap(m, func.__name__, name, **kw)
        return len(owners)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- summaries -----------------------------------------------------
    def measured(self, op_ids) -> list[tuple]:
        ops = set(op_ids)
        return [s for s in self.spans if s[2] in ops]

    def self_times(self, op_ids) -> dict[str, float]:
        """Per span name (group suffix dropped): summed self time, i.e.
        each span's duration minus the union of its children's
        intervals."""
        spans = self.measured(op_ids)
        kids: dict[int, list[tuple[float, float]]] = {}
        for sid, parent, _op, _n, start, end in spans:
            if parent is not None:
                kids.setdefault(parent, []).append((start, end))
        out: dict[str, float] = {}
        for sid, _p, _op, name, start, end in spans:
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(kids.get(sid, ())):
                s, e = max(s, start), min(e, end)
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            key = name.split("|", 1)[0]
            out[key] = out.get(key, 0.0) + (end - start) - covered
        return out

    def durations(self, op_ids, name: str) -> list[float]:
        return [e - s for _i, _p, _o, n, s, e in self.measured(op_ids)
                if n.split("|", 1)[0] == name]


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst phase times of the DataFrame's last execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


_EXEC_METRICS = {
    "shuffleBytesWritten": "shuffle_write_bytes",
    "spillSize": "spill_bytes",
    "peakMemory": "peak_memory_bytes",
}


def exec_metrics(df) -> dict[str, int]:
    """Shuffle bytes written and spill summed over the executed plan's
    nodes (adaptive query stages included); peak memory as the largest
    node value."""
    out = {v: 0 for v in _EXEC_METRICS.values()}

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = _EXEC_METRICS.get(kv._1())
            if key == "peak_memory_bytes":
                out[key] = max(out[key], int(kv._2().value()))
            elif key is not None:
                out[key] += int(kv._2().value())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out
