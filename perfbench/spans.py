"""Spans, Spark counters and process memory for the traced run.

A span is recorded around each public call the benchmark makes into the
engine.  Spans carry a name, start/end (perf_counter seconds), the parent
span and the operation id; they stay in memory and are written out when the
run ends.  Every span runs under its own Spark job group, so the jobs,
tasks and stage metrics the session's status store holds can be attributed
to the innermost span that launched them.  Nothing inside the engine is
instrumented: the counters are read from the status store afterwards.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans of the operations run under ``operation(traced=True)``
    when enabled; otherwise a span costs one thread-local lookup."""

    def __init__(self, enabled: bool):
        self.spark = None  # set by the workload before its timed loop
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: dict | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span["group"], span["name"])

    def active(self) -> bool:
        return getattr(self._local, "active", False)

    @contextmanager
    def operation(self, name: str, op: int, traced: bool):
        """Root span of one operation; spans inside it are recorded only
        when the operation is traced."""
        if not (self.enabled and traced):
            yield None
            return
        self._local.active = True
        try:
            with self.span(name, op=op) as rec:
                yield rec
        finally:
            self._local.active = False

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.active():
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "group": f"perfbench-span-{sid}",
            "thread": threading.get_ident(),
        }
        stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self._set_group(parent)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str, materialize: bool = False):
        """``fn`` timed as span ``name``.  With ``materialize`` the returned
        DataFrame is also written to the noop sink in a child span
        ``<name>.materialize``, so the cost of a lazy frame lands on the
        call that built it instead of on its consumer."""

        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if materialize and self.active():
                    with self.span(name + ".materialize"):
                        out.write.format("noop").mode("overwrite").save()
            return out

        traced.__wrapped__ = fn
        return traced


@contextmanager
def patched(targets):
    """Temporarily replace module attributes: ``targets`` is a list of
    (module, attribute, replacement)."""
    saved = [(m, a, getattr(m, a)) for m, a, _ in targets]
    try:
        for m, a, repl in targets:
            setattr(m, a, repl)
        yield
    finally:
        for m, a, orig in saved:
            setattr(m, a, orig)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it covered by its child spans."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for start, end in sorted(children[s["id"]]):
            start, end = max(start, cursor), min(end, s["end"])
            if end > start:
                covered += end - start
                cursor = end
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def spark_counters(spark, groups) -> dict[str, dict]:
    """Per job group: jobs, tasks, failed tasks, executor run time and
    shuffle/spill bytes, read from the session's status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    wanted = set(groups)
    out = {
        g: {"jobs": 0, "tasks": 0, "failed_tasks": 0, "executor_run_ms": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0}
        for g in wanted
    }
    for job in conv.asJava(store.jobsList(None)):
        group = job.jobGroup()
        if not group.isDefined() or group.get() not in wanted:
            continue
        c = out[group.get()]
        c["jobs"] += 1
        c["tasks"] += job.numCompletedTasks() + job.numFailedTasks() + job.numKilledTasks()
        c["failed_tasks"] += job.numFailedTasks()
        for stage_id in conv.asJava(job.stageIds()):
            for st in conv.asJava(store.stageData(stage_id, False, None, False, None)):
                c["executor_run_ms"] += st.executorRunTime()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            kids.append(int(entry))
    return kids


def peak_rss_mb() -> dict[int, float]:
    """Peak resident set (VmHWM) of this process and of each child (the JVM
    the session launched), in MiB, by pid."""
    me = os.getpid()
    return {p: _status_kb(p, "VmHWM") / 1024.0 for p in [me, *child_pids(me)]}
