"""Spans and Spark counter deltas recorded around calls into the program.

Tracing lives entirely in the benchmark: :class:`Tracer` wraps the
program's public functions in place (every loaded module that bound the
function gets the wrapper) and restores them on exit, so the program itself
is never edited. Each span records its name, start, end, parent and job id,
plus the change in the Spark status store's executor totals (tasks, input
bytes, shuffle bytes, GC time) over the span. Spans stay in memory until
:meth:`Tracer.dump`.

Lazy layers — functions that return a DataFrame without running it — are
timed by writing the returned DataFrame to the ``noop`` sink inside the
span. That is extra work only the traced run does; its cost shows as the
tracing overhead.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

PKG = "py_datalake_move_files_spark"
COUNTERS = ("tasks", "input_bytes", "shuffle_read", "shuffle_write", "gc_ms")


#: name prefixes of the JVM's JIT compiler threads
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    """User + system clock ticks of the JIT compiler threads of ``pid``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1 :].startswith(JIT_THREADS):
            fields = stat[stat.rindex(")") + 2 :].split()
            # a thread's own times only: its reaped-children fields are the
            # whole process's
            total += int(fields[11]) + int(fields[12])
    return total


def tree_cpu_s(jit: bool = True) -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant: the JVM and the Python workers it forks. Children that
    already exited count through their parent's reaped-children times.

    ``jit=False`` leaves out the JVM's JIT compiler threads, which compile
    the job's hot code in the background for many jobs after start-up: how
    much of that falls into one job varies from run to run more than the
    job's own work does. The JVM must keep its compiler threads for its
    lifetime (``-XX:-UseDynamicNumberOfCompilerThreads``), or the CPU time
    of a compiler thread that exits would move back into the figure."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        procs[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        if not jit:
            ticks -= _jit_ticks(pid)
        todo += [c for c, (parent, _) in procs.items() if parent == pid]
    return ticks / os.sysconf("SC_CLK_TCK")


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def counters(spark) -> dict[str, int]:
    """Executor totals from the status store, after the listener bus has
    delivered every event of the actions that already returned."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    execs = jsc.statusStore().executorList(True)
    out = dict.fromkeys(COUNTERS, 0)
    for i in range(execs.size()):
        e = execs.apply(i)
        out["tasks"] += e.completedTasks() + e.failedTasks()
        out["input_bytes"] += e.totalInputBytes()
        out["shuffle_read"] += e.totalShuffleRead()
        out["shuffle_write"] += e.totalShuffleWrite()
        out["gc_ms"] += e.totalGCTime()
    return out


def last_job_tasks(spark) -> int:
    """Tasks of the most recent Spark job's stages."""
    st = spark.sparkContext.statusTracker()
    job = st.getJobInfo(max(st.getJobIdsForGroup(None)))
    infos = (st.getStageInfo(s) for s in job.stageIds)
    return sum(i.numCompletedTasks for i in infos if i is not None)


class Tracer:
    def __init__(self) -> None:
        self.spark = None
        self.spans: list[dict] = []
        self.job: str | None = None
        self.state: dict = {}
        self._stack: list[dict] = []
        self._origin = time.perf_counter()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time the body; the yielded record takes extra attributes."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "job": self.job,
            "parent": self._stack[-1]["id"] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        outer0 = time.perf_counter()
        c0 = counters(self.spark) if self.spark is not None else None
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            if c0 is not None:
                c1 = counters(self.spark)
                rec["delta"] = {k: c1[k] - c0[k] for k in COUNTERS}
            self._stack.pop()
            rec["start"], rec["end"] = t0 - self._origin, t1 - self._origin
            # what the span cost its parent, counter reads included
            rec["outer"] = time.perf_counter() - outer0

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return self.duration(rec) - sum(k["outer"] for k in kids)

    def self_delta(self, rec: dict, key: str) -> int:
        kids = [s for s in self.spans if s["parent"] == rec["id"] and "delta" in s]
        return rec["delta"][key] - sum(k["delta"][key] for k in kids)

    def find(self, job: str, name: str) -> list[dict]:
        return [s for s in self.spans if s["job"] == job and s["name"] == name]

    # -- wrapping the program's functions ---------------------------------

    def patch(self, module, name: str, make_wrapper) -> None:
        """Replace ``module.name`` — and every binding of the same object in
        the program's loaded modules — with ``make_wrapper(original)``."""
        orig = getattr(module, name)
        wrapped = make_wrapper(orig)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PKG) and getattr(mod, name, None) is orig:
                setattr(mod, name, wrapped)
                self._patched.append((mod, name, orig))

    def unpatch(self) -> None:
        for mod, name, orig in reversed(self._patched):
            setattr(mod, name, orig)
        self._patched.clear()

    def lazy(self, span_name: str, after=None):
        """Wrapper factory for a function returning a DataFrame: the span
        covers the call and writing the result to the noop sink, whose time
        alone the record keeps as ``run_s``.
        ``after(rec, df)`` runs outside the span, under a ``trace.aux`` span,
        for counts the metrics need."""

        def make(orig):
            def wrapper(*a, **kw):
                with self.span(span_name) as rec:
                    df = orig(*a, **kw)
                    t0 = time.perf_counter()
                    materialize(df)
                    rec["run_s"] = time.perf_counter() - t0
                if after is not None:
                    with self.span("trace.aux"):
                        after(rec, df)
                return df

            return wrapper

        return make

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)
