"""Spans, Spark job groups, the Spark event log, and process-tree RSS.

A span is recorded from the benchmark side around one call into a
layer of ``mrbf_spark``. The traced form of an op makes the op's
calls itself, so a ``CallLog`` records the calls the op makes into the
engine's layers and the calls its traced form makes; the two must be
the same. Entering a span sets a Spark job group unique
to it, so every job the call starts (and the stages and tasks of those
jobs) can be tied back to the span from the event log after the
session stops. Spans are kept in memory and reduced once at the end.

Event-log times are epoch milliseconds, so spans record ``time.time()``
as well; durations use the same clock so the two line up.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int
    group: str
    parent: "Span | None"
    start: float = 0.0
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; each span owns one Spark job group.

    The job group is a thread-local property of the SparkContext, so
    a nested span restores its parent's group when it closes."""

    def __init__(self, sc, calls: "CallLog"):
        self.sc = sc
        self.calls = calls
        self.spans: list[Span] = []
        self.op_calls: dict[int, list] = {}
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextlib.contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, op, f"span-{len(self.spans)}", parent)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)


    @contextlib.contextmanager
    def op(self, op_id: int):
        """The span of one traced op; the layer calls made in it are
        kept in ``op_calls[op_id]``."""
        with self.span("op", op_id) as s, self.calls.recording() as got:
            yield s
        self.op_calls[op_id] = got


def find(spans: list[Span], name: str, op: int | None = None) -> list[Span]:
    return [s for s in spans if s.name == name and (op is None or s.op == op)]


def layer(spans: list[Span], jobs_by_group: dict, op: int, name: str) -> tuple[float, list[int]]:
    """Seconds in, and job ids under, the spans named ``name`` of one op."""
    ss = find(spans, name, op)
    return sum(s.seconds for s in ss), [j for s in ss for j in jobs_under(spans, s, jobs_by_group)]


def jobs_under(spans: list[Span], span: Span, jobs_by_group: dict) -> list[int]:
    """Job ids started under ``span`` or any span nested in it."""
    out: list[int] = []
    for s in spans:
        p = s
        while p is not None and p is not span:
            p = p.parent
        if p is span:
            out.extend(jobs_by_group.get(s.group, ()))
    return out


# --- calls into the engine's layers ---------------------------------------

LAYER_MODULES = (
    "mrbf_spark.bloom.core",
    "mrbf_spark.bloom.pipeline",
    "mrbf_spark.bloom.sizing",
    "mrbf_spark.tables",
)


class CallLog:
    """Records the outermost calls into the public functions of
    ``modules``: the function's name and its arguments, with each
    argument that is not plain data (a DataFrame, a Column, a session)
    replaced by its type name. Calls made inside another recorded call
    are not recorded, so the log lists the layer calls in the order
    the caller made them.

    While recording, every module under ``prefix`` that holds one of
    the functions by name (``from .core import build_bloom_filters``)
    sees the recording wrapper instead. ``exclude`` names functions
    that are not wrapped (the op itself, when it lives in one of the
    modules)."""

    def __init__(self, modules=LAYER_MODULES, prefix: str = "mrbf_spark", exclude=()):
        self.modules = modules
        self.prefix = prefix
        self.exclude = set(exclude)
        self._log: list | None = None
        self._depth = 0

    def _functions(self) -> dict:
        out = {}
        for name in self.modules:
            mod = importlib.import_module(name)
            for attr, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == name
                    and not attr.startswith("_")
                    and attr not in self.exclude
                ):
                    out[fn] = f"{name}.{attr}"
        return out

    def _wrap(self, fn, qualname: str):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self._log is None:
                return fn(*args, **kwargs)
            if self._depth == 0:
                bound = sig.bind(*args, **kwargs)
                bound.apply_defaults()
                self._log.append(
                    (qualname, tuple((k, _plain(v)) for k, v in bound.arguments.items()))
                )
            self._depth += 1
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1

        return wrapper

    @contextlib.contextmanager
    def recording(self):
        fns = self._functions()
        wrappers = {fn: self._wrap(fn, q) for fn, q in fns.items()}
        patched = []
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == self.prefix or name.startswith(self.prefix + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if inspect.isfunction(value) and value in wrappers:
                    setattr(mod, attr, wrappers[value])
                    patched.append((mod, attr, value))
        self._log, self._depth = [], 0
        try:
            yield self._log
        finally:
            self._log = None
            for mod, attr, value in patched:
                setattr(mod, attr, value)


def call_diff(want: list, got: list) -> str:
    """'' if the two call logs are equal, else where they first differ."""
    if want == got:
        return ""
    i = next((i for i, (a, b) in enumerate(zip(want, got)) if a != b), min(len(want), len(got)))
    show = lambda log: log[i] if i < len(log) else "no call"  # noqa: E731
    return f"call {i} of {len(got)} is {show(got)}, the op's call {i} of {len(want)} is {show(want)}"


def _plain(v):
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    return type(v).__name__


# --- Spark event log -------------------------------------------------------


@dataclass
class Job:
    id: int
    group: str | None
    execution: int | None
    start_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    tasks: int = 0
    failed_tasks: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_rows: int = 0
    input_bytes: int = 0

    def add(self, other: "StageTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, StageTotals]  # completed stage id -> task totals
    broadcast_bytes: dict[int, int]  # SQL execution id -> broadcast bytes

    def totals(self, job_ids) -> tuple[StageTotals, int]:
        """Summed task metrics and the completed-stage count of ``job_ids``.
        A stage shared by two jobs (a reused shuffle) counts once."""
        seen: set[int] = set()
        tot = StageTotals()
        for j in job_ids:
            for sid in self.jobs[j].stages if j in self.jobs else ():
                if sid in self.stages and sid not in seen:
                    seen.add(sid)
                    tot.add(self.stages[sid])
        return tot, len(seen)

    def busy_seconds(self, job_ids) -> float:
        """Wall time covered by the union of the jobs' intervals."""
        iv = sorted(
            (self.jobs[j].start_ms, self.jobs[j].end_ms)
            for j in job_ids
            if j in self.jobs and self.jobs[j].end_ms
        )
        busy, cur_s, cur_e = 0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy / 1000.0

    def jobs_by_group(self) -> dict[str, list[int]]:
        out: dict[str, list[int]] = {}
        for j in self.jobs.values():
            out.setdefault(j.group, []).append(j.id)
        return out

    def broadcast_of(self, job_ids) -> int:
        execs = {self.jobs[j].execution for j in job_ids if j in self.jobs}
        return sum(self.broadcast_bytes.get(e, 0) for e in execs if e is not None)


def _broadcast_size_accums(plan: dict, out: set[int]) -> None:
    if plan.get("nodeName") == "BroadcastExchange":
        for m in plan.get("metrics", []):
            if m.get("name") == "data size":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _broadcast_size_accums(child, out)


_SQL = "org.apache.spark.sql.execution.ui."


def parse_event_log(path: str) -> EventLog:
    """Reduce an uncompressed Spark JSON event log to per-job, per-stage
    and per-SQL-execution totals. Units as Spark writes them: run and
    GC time in ms, sizes in bytes."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    completed: set[int] = set()
    size_accums: set[int] = set()
    # (execution, accumulator) -> value: a plan also shows the cached
    # relations it reads, so the execution that posted a broadcast's
    # size, not every plan that shows it, is the one that paid for it
    posted: dict[tuple[int, int], int] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                execution = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"],
                    props.get("spark.jobGroup.id"),
                    int(execution) if execution is not None else None,
                    ev["Submission Time"],
                    stages=list(ev["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                completed.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], StageTotals())
                st.tasks += 1
                info = ev.get("Task Info") or {}
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                if info.get("Failed") or reason not in (None, "Success"):
                    st.failed_tasks += 1
                tm = ev.get("Task Metrics") or {}
                st.gc_ms += tm.get("JVM GC Time", 0)
                st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
                st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                inp = tm.get("Input Metrics") or {}
                st.input_rows += inp.get("Records Read", 0)
                st.input_bytes += inp.get("Bytes Read", 0)
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _broadcast_size_accums(ev["sparkPlanInfo"], size_accums)
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in ev["accumUpdates"]:
                    posted[(ev["executionId"], int(acc_id))] = int(value)
    bcast: dict[int, int] = {}
    for (execution, acc_id), value in posted.items():
        if acc_id in size_accums:
            bcast[execution] = bcast.get(execution, 0) + value
    return EventLog(
        jobs, {s: t for s, t in stages.items() if s in completed}, bcast
    )


def event_log_file(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


# --- process-tree RSS ------------------------------------------------------


def process_tree(root: int) -> dict[int, int]:
    """RSS in bytes of ``root`` and each live descendant, by pid."""
    page = os.sysconf("SC_PAGE_SIZE")
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
            with open(f"/proc/{name}/statm", encoding="ascii") as fh:
                pages = int(fh.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended between listdir and open
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(name))
            rss[int(name)] = pages * page
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in rss:
            out[pid] = rss[pid]
        todo.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (driver Python, the JVM, Python workers) while active."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(process_tree(root).values()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
