"""Shared machinery: timing, tracing spans and the Spark / ``/proc``
counters read at span boundaries, the session start, the round loop
and the result line.

Untraced runs only read the monotonic clock around each call into the
program. Traced runs (``--trace 1``) also put every span in its own
Spark job group and read, at the span's start and end, the job ids of
that group, the stage metrics of those jobs from Spark's status store,
and the CPU time of the JVM and of the pyspark Python workers from
``/proc``. The SQL plan nodes those jobs ran, with their row counts,
can be read afterwards from the span's job ids. Spans are kept in
memory and written out when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def log(msg: str) -> None:
    """A progress line on stderr (stdout carries only the result)."""
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(values: list[float]) -> float:
    return float(statistics.median(values))


# ----------------------------------------------------------- /proc CPU
def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, CPU seconds including reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        f = raw[raw.rindex(")") + 2:].split()
        cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _CLK_TCK
        out[int(name)] = (int(f[1]), cpu)
    return out


def cpu_seconds(jvm_pid: int | None) -> tuple[float, float]:
    """(JVM CPU s, pyspark Python worker CPU s) at this instant. The
    workers are the JVM's descendant processes; a worker that exited
    is counted through its parent's reaped-children time."""
    if jvm_pid is None or not os.path.isdir("/proc"):
        return 0.0, 0.0
    table = _proc_table()
    jvm = table.get(jvm_pid, (0, 0.0))[1]
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    workers, stack = 0.0, list(children.get(jvm_pid, []))
    while stack:
        pid = stack.pop()
        workers += table[pid][1]
        stack.extend(children.get(pid, []))
    return jvm, workers


# --------------------------------------------------------------- spans
class Span:
    __slots__ = ("name", "parent", "start", "end", "counters", "job_ids")

    def __init__(self, name: str, parent: str | None):
        self.name, self.parent = name, parent
        self.start = self.end = 0.0
        self.counters: dict[str, float] = {}
        self.job_ids: list[int] = []

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "name": self.name, "parent": self.parent, "start": self.start,
            "end": self.end, "seconds": self.seconds, "counters": self.counters,
            "job_ids": self.job_ids,
        }


_STAGE_FIELDS = {
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "executor_run_s": ("executorRunTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
}


class Tracer:
    """Times calls into the program; with ``enabled`` also records
    spans with Spark and ``/proc`` counters (see the module docstring).
    ``spark`` may be attached after the session exists."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.jvm_pid: int | None = None
        self.spans: list[Span] = []
        self._stack: list[tuple[str, str]] = []  # (span name, job group)
        self._group = 0

    def attach(self, spark) -> None:
        self.spark = spark
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        self.jvm_pid = getattr(proc, "pid", None)

    @contextmanager
    def span(self, name: str):
        s = Span(name, self._stack[-1][0] if self._stack else None)
        if not self.enabled or self.spark is None:
            s.start = time.perf_counter()
            try:
                yield s
            finally:
                s.end = time.perf_counter()
            return
        sc = self.spark.sparkContext
        self._group += 1
        group = f"perfbench-{self._group}-{name}"
        sc.setJobGroup(group, name)
        cpu0 = cpu_seconds(self.jvm_pid)
        self._stack.append((name, group))
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            cpu1 = cpu_seconds(self.jvm_pid)
            outer = self._stack[-1][1] if self._stack else "perfbench"
            sc.setJobGroup(outer, outer)
            # job and SQL execution end events reach the status stores
            # through the listener bus; let it drain before reading them
            sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            s.job_ids = sorted(int(j) for j in sc.statusTracker().getJobIdsForGroup(group))
            s.counters.update(self._job_counters(s.job_ids))
            s.counters["jvm_cpu_s"] = cpu1[0] - cpu0[0]
            s.counters["python_worker_cpu_s"] = cpu1[1] - cpu0[1]
            self.spans.append(s)

    def _job_counters(self, job_ids: list[int]) -> dict[str, float]:
        from py4j.protocol import Py4JError

        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = {k: 0.0 for k in _STAGE_FIELDS}
        out["jobs"] = float(len(job_ids))
        stages: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        n_done = 0
        for sid in stages:
            try:
                st = store.lastStageAttempt(int(sid))
            except Py4JError:
                continue  # skipped stage: it never ran
            if str(st.status()) != "COMPLETE":
                continue
            n_done += 1
            for key, (getter, scale) in _STAGE_FIELDS.items():
                out[key] += float(getattr(st, getter)()) * scale
        out["stages"] = float(n_done)
        return out

    def sql_nodes(self, span: Span) -> list[dict]:
        """The physical plan nodes of every SQL execution that ran one
        of ``span``'s jobs, from Spark's SQL status store (the final
        adaptive plan): ``{"exec", "id", "name", "desc", "rows",
        "parent"}``, ``rows`` being the node's "number of output rows"
        metric (None where the node has none) and ``parent`` the id of
        the node consuming its output."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        wanted = set(span.job_ids)
        out = []
        for e in _seq(store.executionsList()):
            if not wanted & {int(j) for j in _seq(e.jobs().keys())}:
                continue
            eid = e.executionId()
            graph, values = store.planGraph(eid), store.executionMetrics(eid)
            parent = {int(x.fromId()): int(x.toId()) for x in _seq(graph.edges())}
            for n in _seq(graph.allNodes()):
                rows = None
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if m.name() == "number of output rows" and v.isDefined():
                        rows = int(str(v.get()).replace(",", ""))
                out.append({"exec": eid, "id": int(n.id()), "name": str(n.name()),
                            "desc": str(n.desc()), "rows": rows,
                            "parent": parent.get(int(n.id()))})
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([s.as_dict() for s in self.spans], fh, indent=1)


def _seq(scala_iterable):
    """A Scala collection seen through py4j, as a Python iterator."""
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


# --------------------------------------------------------------- result
class Outcome:
    """Counts attempted and failed operations and collects metrics."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, dict] = {}

    def op(self, n: int = 1) -> None:
        self.attempted += n

    def check(self, name: str, problems: list[str]) -> None:
        """Record one correctness check; a non-empty problem list fails it."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{name}: {p}" for p in problems[:5])

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def zero_uncalled_layers(self, wanted: dict[str, str], layers: tuple[str, ...]) -> None:
        """Report 0 for each wanted per-layer metric of a layer (the
        name's first dotted part) outside ``layers``, the ones the
        workload calls: no call, so no time, no job and no row."""
        for name, unit in wanted.items():
            if name.split(".", 1)[0] not in layers:
                self.metric(name, 0.0, unit)

    def require(self, wanted: dict[str, str]) -> None:
        """Fail unless the metrics are exactly ``wanted``, unit for unit."""
        got = {k: v["unit"] for k, v in self.metrics.items()}
        if got != wanted:
            missing = sorted(set(wanted) - set(got))
            extra = sorted(set(got) - set(wanted))
            units = sorted(k for k in set(got) & set(wanted) if got[k] != wanted[k])
            raise RuntimeError(
                f"metrics differ from BENCHMARK.json: missing {missing}, "
                f"not listed {extra}, other unit {units}"
            )

    def line(self) -> str:
        return json.dumps(
            {
                "correct": self.failed == 0,
                "attempted": self.attempted,
                "failed": self.failed,
                "metrics": self.metrics,
            }
        )


# -------------------------------------------------------------- session
def start_session(app: str, cores: int, work: str, tracer: Tracer):
    """The program's own session factory at ``local[cores]``, with its
    scratch space kept under ``work``. Timed as ``session.start``."""
    from ingest_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    with tracer.span("session.start") as s:
        spark = get_spark(
            app,
            master=f"local[{cores}]",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)
    if tracer.enabled:
        tracer.spans.append(s)
    return spark, s.seconds


def rounds(seconds: float, round_s: float, min_rounds: int) -> range:
    """The timed rounds of a run: as many as ``seconds`` holds at the
    workload's nominal round length ``round_s``, and at least
    ``min_rounds``. The count depends on ``--seconds`` only, never on
    how fast this machine or this build happens to be, so every run
    with the same settings does the same work."""
    return range(max(min_rounds, int(seconds // round_s)))


def median_dict(rows: list[dict]) -> dict:
    """Key-wise median over per-round dicts."""
    return {k: median([r[k] for r in rows]) for k in rows[0]}
