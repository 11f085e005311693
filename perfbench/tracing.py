"""Spans around the benchmark's calls into each layer, resolved against
Spark's own status stores.

A span is (name, parent, start, end) kept in memory. While a span is open it
owns a Spark job group, so every job the layer runs is attributed to the
innermost open span. After an operation ends (outside its timer) the spans
are resolved:

- jobs per group from ``SparkContext.statusTracker``;
- per-stage executor run time, GC time, shuffle-write, spill and output
  bytes from the core ``AppStatusStore`` (``lastStageAttempt``), and the
  max/median task run time of the span's dominant stage (``taskSummary``);
- plan shape per SQL execution by walking the nodes of the execution's
  plan graph in the SQL status store: Exchange, scan and Python-eval nodes;
- the Python worker metrics (time, bytes sent and received) and the scan
  node's ``number of files read`` from the same store.

Both stores work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PYTHON_NODES = ("Python", "Pandas", "InArrow")
SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}

# summed over the span's jobs/stages/executions; inclusive of child spans
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
    "exchanges",
    "scans",
    "python_nodes",
    "python_eval_s",
    "python_bytes",
    "files_read",
)


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    depth: int
    start: float
    end: float = 0.0
    own: dict = field(default_factory=dict)  # counters of this span's own group
    total: dict = field(default_factory=dict)  # own + descendants
    task_skew: float = 0.0
    self_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def _scala_list(jvm, seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def _metric_total(text: str, kind: str) -> float:
    """Total of a formatted SQL metric: ``"1,234"`` for sums, or
    ``"total (min, med, max ...)\\n12.5 MiB (...)"`` for sizes and timings
    (bytes / seconds)."""
    last = text.strip().splitlines()[-1].split()
    value = float(last[0].replace(",", ""))
    if kind == "size":
        return value * SIZE_UNITS.get(last[1], 1)
    if kind in ("timing", "nsTiming"):
        return value * TIME_UNITS.get(last[1], 1.0)
    return value


class Tracer:
    """Span recorder; a disabled tracer opens no spans and costs one branch."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._n = 0
        self._patched: list[tuple] = []

    # -- recording --------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._n += 1
        group = f"perfbench-{os.getpid()}-{self._n}"
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, group, parent, len(self._stack), time.perf_counter())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self.spans[self._stack[-1]].group, "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def open(self, name: str):
        """Start a span that some later call ends with ``close`` (for a gap
        between two calls, such as the audit between stages s1 and s2)."""
        cm = self.span(name)
        cm.__enter__()
        return cm

    @staticmethod
    def close(cm) -> None:
        cm.__exit__(None, None, None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, replacement) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- resolution -------------------------------------------------------
    def sql_execution_mark(self) -> int:
        if not self.enabled:
            return 0
        return int(self.spark._jsparkSession.sharedState().statusStore().executionsCount())

    def resolve(self, spans: list[Span], exec_mark: int) -> None:
        """Fill in the counters of ``spans`` (one operation's spans)."""
        if not spans:
            return
        spark = self.spark
        sc = spark.sparkContext
        jvm = sc._jvm
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        quant = sc._gateway.new_array(jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0

        job_span: dict[int, Span] = {}
        for sp in spans:
            sp.own = dict.fromkeys(COUNTERS, 0.0)
            for jid in tracker.getJobIdsForGroup(sp.group):
                job_span[jid] = sp
        dominant: dict[int, tuple] = {}
        seen_stages: set[tuple] = set()
        for jid, sp in job_span.items():
            info = tracker.getJobInfo(jid)
            sp.own["jobs"] += 1
            for sid in info.stageIds if info else []:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - evicted or never submitted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused
                key = (sid, st.attemptId())
                if key in seen_stages:
                    continue
                seen_stages.add(key)
                run_s = st.executorRunTime() / 1000.0
                o = sp.own
                o["stages"] += 1
                o["tasks"] += st.numTasks()
                o["executor_run_s"] += run_s
                o["gc_s"] += st.jvmGcTime() / 1000.0
                o["shuffle_write_bytes"] += st.shuffleWriteBytes()
                o["spill_bytes"] += st.diskBytesSpilled()
                o["output_bytes"] += st.outputBytes()
                if st.numTasks() >= 2 and run_s > dominant.get(id(sp), (0.0,))[0]:
                    dominant[id(sp)] = (run_s, sid, st.attemptId())
        for sp in spans:
            best = dominant.get(id(sp))
            if best is None:
                continue
            summ = store.taskSummary(best[1], best[2], quant)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                sp.task_skew = mx / med if med > 0 else 0.0

        sql = spark._jsparkSession.sharedState().statusStore()
        n_exec = int(sql.executionsCount())
        for ex in _scala_list(jvm, sql.executionsList(exec_mark, max(n_exec - exec_mark, 0))):
            jobs = [int(j) for j in _scala_list(jvm, ex.jobs().keys().toSeq())]
            owners = [job_span[j] for j in jobs if j in job_span]
            if not owners:
                continue
            sp = owners[0]
            eid = ex.executionId()
            values = sql.executionMetrics(eid)
            for node in _scala_list(jvm, sql.planGraph(eid).allNodes()):
                name = node.name()
                if name == "Exchange":
                    sp.own["exchanges"] += 1
                elif name.startswith("Scan"):
                    sp.own["scans"] += 1
                elif any(k in name for k in PYTHON_NODES):
                    sp.own["python_nodes"] += 1
                for m in _scala_list(jvm, node.metrics()):
                    mname = m.name()
                    if mname not in (
                        "time to run Python workers",
                        "data sent to Python workers",
                        "data returned from Python workers",
                        "number of files read",
                    ):
                        continue
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    val = _metric_total(v.get(), m.metricType())
                    if mname == "time to run Python workers":
                        sp.own["python_eval_s"] += val
                    elif mname == "number of files read":
                        sp.own["files_read"] += val
                    else:
                        sp.own["python_bytes"] += val

        # inclusive totals and self time, children before parents
        for sp in spans:
            sp.total = dict(sp.own)
            sp.self_s = sp.wall_s
        for sp in sorted(spans, key=lambda s: -s.depth):
            if sp.parent is None:
                continue
            par = self.spans[sp.parent]
            for k, v in sp.total.items():
                par.total[k] = par.total.get(k, 0.0) + v
            par.self_s -= sp.wall_s


# ---------------------------------------------------------------------------
# process memory


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver Python process plus the driver JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def cached_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())
