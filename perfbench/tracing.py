"""Measurement plumbing: layer spans, Spark status-store counters,
streaming trigger durations and peak memory.

Spans are recorded from outside the package: ``Tracer.install`` wraps
public functions of ``polars_view_spark`` in every module that holds a
reference to them (``container.py`` imports ``apply_pipeline`` by name,
``sort.py`` imports ``add_row_index`` ...), so each call site sees the
wrapper.  ``Tracer.uninstall`` puts the originals back.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from dataclasses import dataclass, field

#: layer name -> (module, attribute) of the public function it times
LAYER_FUNCTIONS = {
    "readers.read_any": ("polars_view_spark.sources.readers", "read_any"),
    "sniff.probe_head_lines": ("polars_view_spark.sources.sniff", "probe_head_lines"),
    "transforms.apply_pipeline": ("polars_view_spark.operators.transforms", "apply_pipeline"),
    "transforms.remove_null_columns": (
        "polars_view_spark.operators.transforms",
        "remove_null_columns",
    ),
    "transforms.run_sql": ("polars_view_spark.operators.transforms", "run_sql"),
    "rowindex.add_row_index": ("polars_view_spark.operators.rowindex", "add_row_index"),
    "dialect.rewrite_query": ("polars_view_spark.plans.dialect", "rewrite_query"),
    "sort.apply_sort": ("polars_view_spark.operators.sort", "apply_sort"),
    "writers.save_as": ("polars_view_spark.sources.writers", "save_as"),
    "catalog.load_tables": ("polars_view_spark.catalog", "load_tables"),
    "dedup.minhash_build_index": ("polars_view_spark.operators.dedup", "minhash_build_index"),
    "dedup.minhash_query_index": ("polars_view_spark.operators.dedup", "minhash_query_index"),
    "dedup.connected_components": ("polars_view_spark.operators.dedup", "connected_components"),
    "packing.build_training_mix": ("polars_view_spark.operators.packing", "build_training_mix"),
    "classifier.train_quality_classifier": (
        "polars_view_spark.operators.classifier",
        "train_quality_classifier",
    ),
}
#: layer name -> DataContainer method it times
CONTAINER_METHODS = {"container.load_data": "load_data", "container.requery": "requery"}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    thread: int = field(default_factory=threading.get_ident)
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


@dataclass
class Tracer:
    """In-memory span recorder.  While ``enabled`` is False ``begin`` and
    ``end`` do nothing; the wrappers are installed only for the traced
    phase, so the untraced phase calls the package unwrapped."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    op_id: int | None = None
    _root: int | None = None  # the current op's span
    _local: threading.local = field(default_factory=threading.local)
    _saved: list = field(default_factory=list)

    # -- span recording -------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int | None:
        if not self.enabled:
            return None
        st = self._stack()
        # a span opened on another thread (a streaming batch callback)
        # hangs under the op's span without counting as its child time
        parent = st[-1] if st else self._root
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self.op_id))
        idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def begin_op(self, name: str, op_id: int) -> int | None:
        """Open the root span of one benchmark operation."""
        self.op_id, self._root = op_id, None
        self._root = self.begin(name)
        return self._root

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        sp = self.spans[idx]
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()
        if sp.parent is not None:
            par = self.spans[sp.parent]
            if par.thread == sp.thread:
                par.child_s += sp.dur

    def wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            idx = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    # -- patching the package's public functions -------------------------
    def install(self) -> None:
        import importlib

        from polars_view_spark.container import DataContainer

        for name, (mod_name, attr) in LAYER_FUNCTIONS.items():
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            wrapped = self.wrap(name, orig)
            for m in list(sys.modules.values()):
                mname = getattr(m, "__name__", "") or ""
                if not mname.startswith("polars_view_spark"):
                    continue
                if m.__dict__.get(attr) is orig:
                    self._saved.append((m, attr, orig))
                    setattr(m, attr, wrapped)
        for name, meth in CONTAINER_METHODS.items():
            raw = DataContainer.__dict__[meth]
            self._saved.append((DataContainer, meth, raw))
            if isinstance(raw, classmethod):
                setattr(DataContainer, meth, classmethod(self.wrap(name, raw.__func__)))
            else:
                setattr(DataContainer, meth, self.wrap(name, raw))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    # -- summaries -------------------------------------------------------
    def layer_summary(self, ops: set[int] | None = None) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for sp in self.spans:
            if ops is not None and sp.op not in ops:
                continue
            s = out.setdefault(sp.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            s["calls"] += 1
            s["total_s"] += sp.dur
            s["self_s"] += sp.self_s
        return out

    def dump(self) -> list[dict]:
        return [
            {
                "name": sp.name,
                "start": round(sp.start, 6),
                "end": round(sp.end, 6),
                "parent": sp.parent,
                "op": sp.op,
                "self_s": round(sp.self_s, 6),
            }
            for sp in self.spans
        ]


class SparkCounters:
    """Per-span engine counters from Spark's own status store (works with
    ``spark.ui.enabled=false``).  A span owns the jobs whose ids were
    handed out between its start and end; the benchmark is a single
    closed-loop client, so no other caller submits jobs meanwhile."""

    FIELDS = (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
        "shuffle_write_mb", "spill_mb", "input_mb", "driver_gap_s",
    )

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())

    def window(self, first_job: int, last_job: int, t0: float, t1: float) -> dict[str, float]:
        """Counters for jobs ``[first_job, last_job)``; ``t0``/``t1`` are
        the span's wall-clock bounds (``time.time()`` seconds)."""
        self.drain()
        out = dict.fromkeys(self.FIELDS, 0.0)
        intervals = []
        for jid in range(first_job, last_job):
            try:
                job = self._store.job(jid)
            except Exception:  # noqa: BLE001 - evicted or never registered
                continue
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            ids = job.stageIds()
            for k in range(ids.size()):
                try:
                    st = self._store.lastStageAttempt(ids.apply(k))
                except Exception:  # noqa: BLE001 - stage never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
                out["input_mb"] += st.inputBytes() / 2**20
        busy = 0.0
        cur_s = cur_e = None
        for s, e in sorted((max(s, t0), min(e, t1)) for s, e in intervals):
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        out["driver_gap_s"] = max(0.0, (t1 - t0) - busy)
        return out


def make_progress_listener(spark):
    """Register a ``StreamingQueryListener`` that keeps every trigger's
    ``durationMs`` map; returns the list it appends to."""
    from pyspark.sql.streaming import StreamingQueryListener

    progress: list[dict] = []

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(dict(event.progress.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Progress())
    return progress


def cpu_ticks() -> tuple[int, int]:
    """``(all, steal)`` clock ticks of the machine so far, from
    ``/proc/stat``: the steal share of an interval tells a slow run caused
    by other tenants of the host from one caused by the program."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def jvm_gc_s(spark) -> float:
    """Seconds the driver JVM has spent in garbage collection so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def _jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def reset_peak_rss(spark) -> None:
    """Collect the JVM's garbage (G1 then gives unused heap back), and
    restart the peak-RSS count of this process and of its driver JVM
    (Linux ``clear_refs`` 5), so the next reading covers what follows.
    Without the collection the driver heap's size, and so the JVM's RSS,
    depends on when G1 chose to grow it during earlier operations."""
    spark._jvm.java.lang.System.gc()
    for pid in ("self", _jvm_pid(spark)):
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident set (MB) of this Python process and of its driver JVM
    since the last ``reset_peak_rss``."""
    return _hwm_mb("self"), _hwm_mb(_jvm_pid(spark))



#: driver JVM threads whose CPU ``ProcessCpu`` keeps apart from the
#: program's work, as ``/proc/<pid>/task/*/comm`` names them (cut to 15
#: characters): the JIT compilers, and the prefixes of G1's collector threads
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
GC_THREADS = ("GC Thread#", "G1 ")


class ProcessCpu:
    """CPU seconds (user + system) used so far by this Python process, its
    driver JVM and the JVM's child processes (the Python workers), read
    from ``/proc``.  CPU time leaves out the time a thread waits for a
    core, including the time other tenants of a shared host steal, so it
    shows the program's own work more steadily than wall time on a busy
    host.

    ``read()`` returns ``(work_s, jit_s, gc_s)``.  The JIT compiler and
    garbage collector threads' CPU is kept out of ``work_s``: how much
    compiling lands in one operation depends on the JVM's warm-up, and how
    much collecting lands in it on how G1 sized the heap after the
    warm-up's forced collections, which moved the figure by up to 5 s of
    CPU per operation between runs.  The JVM starts and stops compiler
    threads as it needs them, and a worker's CPU leaves the worker's own
    count when it exits, so both are summed over every thread and process
    seen so far at its last reading: the counts never go back."""

    def __init__(self, spark) -> None:
        self._tick = os.sysconf("SC_CLK_TCK")
        self._jvm = _jvm_pid(spark)
        self._jit: dict[str, int] = {}
        self._gc: dict[str, int] = {}
        self._kind: dict[str, dict | None] = {}
        self._workers: dict[int, int] = {}

    @staticmethod
    def _ticks(path: str) -> int:
        with open(path) as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return int(f[11]) + int(f[12])  # utime, stime

    def _children(self, pid: int) -> list[int]:
        kids: list[int] = []
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    kids += [int(k) for k in fh.read().split()]
            except FileNotFoundError:
                continue
        return kids

    def _scan(self) -> None:
        for tid in os.listdir(f"/proc/{self._jvm}/task"):
            try:
                if tid not in self._kind:
                    with open(f"/proc/{self._jvm}/task/{tid}/comm") as fh:
                        name = fh.read().strip()
                    self._kind[tid] = (
                        self._jit if name in JIT_THREADS
                        else self._gc if name.startswith(GC_THREADS) else None
                    )
                kind = self._kind[tid]
                if kind is not None:
                    kind[tid] = self._ticks(f"/proc/{self._jvm}/task/{tid}/stat")
            except FileNotFoundError:
                continue
        todo = self._children(self._jvm)
        while todo:
            pid = todo.pop()
            try:
                self._workers[pid] = self._ticks(f"/proc/{pid}/stat")
                todo += self._children(pid)
            except FileNotFoundError:
                continue

    def read(self) -> tuple[float, float, float]:
        self._scan()
        jvm = self._ticks(f"/proc/{self._jvm}/stat")
        jit = sum(self._jit.values())
        gc = sum(self._gc.values())
        work = (jvm - jit - gc + sum(self._workers.values())) / self._tick
        return time.process_time() + work, jit / self._tick, gc / self._tick
