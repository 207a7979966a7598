"""Tracing from outside the engine: spans around calls into module
functions, call counters, and a reader for Spark's event log.

Wrappers replace module attributes in this process only.  That reaches
every call the kernel makes, because ``engine.parser`` calls into
``dom``, ``jsonld``, ``table``, ``general`` and ``structures`` through
module attributes.  Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import time
from collections import Counter, defaultdict
from pathlib import Path
from typing import Callable, Dict, Iterable, List, Optional

OVERHEAD = "trace.overhead"     # bookkeeping done by the tracer itself


class Tracer:
    """Spans are ``[name, start, end, parent, op]`` lists; ``parent`` is
    the index of the enclosing span or -1, ``op`` the operation id."""

    def __init__(self) -> None:
        self.spans: List[list] = []
        self.counts: Counter = Counter()
        self.op = 0
        self._open: List[int] = []
        self._patched: List[tuple] = []

    # -- spans --------------------------------------------------------------
    def begin(self, name: str) -> int:
        parent = self._open[-1] if self._open else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._open.append(len(self.spans) - 1)
        return self._open[-1]

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._open.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    # -- wrappers -----------------------------------------------------------
    def _patch(self, owner, attr: str, replacement) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str,
             after: Optional[Callable] = None) -> None:
        """Span every call of ``owner.attr``; ``after(result, args)``
        runs inside an overhead span that parents do not count as their
        own time."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            idx = self.begin(name)
            try:
                result = original(*args, **kwargs)
            finally:
                self.end(idx)
            if after is not None:
                extra = self.begin(OVERHEAD)
                after(self, result, args)
                self.end(extra)
            return result

        self._patch(owner, attr, wrapper)

    def count_calls(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        counts = self.counts

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            counts[name] += 1
            return original(*args, **kwargs)

        self._patch(owner, attr, wrapper)

    def count_generator(self, owner, attr: str, name: str) -> None:
        """Count calls of a generator function and the items it yields."""
        original = getattr(owner, attr)
        counts = self.counts

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            counts[name + ".calls"] += 1
            n = 0
            try:
                for item in original(*args, **kwargs):
                    n += 1
                    yield item
            finally:
                counts[name + ".yielded"] += n

        self._patch(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # -- summaries ----------------------------------------------------------
    def _children_time(self) -> List[float]:
        covered = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0 and end is not None:
                covered[parent] += end - start
        return covered

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s[0] == name)

    def busy(self, name: str) -> float:
        return sum(s[2] - s[1] for s in self.spans if s[0] == name and s[2])

    def self_time(self, name: str) -> float:
        covered = self._children_time()
        return sum(s[2] - s[1] - covered[i]
                   for i, s in enumerate(self.spans) if s[0] == name and s[2])

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for name, start, end, parent, op in self.spans:
                fh.write(json.dumps({"name": name, "start": start, "end": end,
                                     "parent": parent, "op": op}) + "\n")


# -- Spark event log --------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"


def _num(value) -> float:
    try:
        return float(value)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(lines: Iterable[str], batch_rows: int = 1024) -> Dict[str, Dict[str, float]]:
    """Per job-group totals from a Spark JSON event log.

    The group is the ``spark.jobGroup.id`` the benchmark sets before
    each phase.  Task metrics are summed per stage and credited to the
    group of the job that ran the stage; SQL metrics of the Python
    nodes come from the stage accumulables.  ``arrow_batches`` counts,
    for every task of a stage that ran Python, the Arrow batches its
    shuffle input needs at ``batch_rows`` rows a batch."""
    stage_group: Dict[int, str] = {}
    jobs: Counter = Counter()
    out: Dict[str, Counter] = defaultdict(Counter)
    task_rows: Dict[int, List[int]] = defaultdict(list)
    python_stages = set()
    for line in lines:
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            group = (event.get("Properties") or {}).get("spark.jobGroup.id") or "none"
            jobs[group] += 1
            for sid in event.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            sid = event.get("Stage ID")
            m = event.get("Task Metrics") or {}
            g = out[stage_group.get(sid, "none")]
            g["tasks"] += 1
            g["executor_run_s"] += _num(m.get("Executor Run Time")) / 1e3
            g["executor_cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
            g["gc_s"] += _num(m.get("JVM GC Time")) / 1e3
            g["spill_bytes"] += (_num(m.get("Memory Bytes Spilled"))
                                 + _num(m.get("Disk Bytes Spilled")))
            g["records_read"] += _num((m.get("Input Metrics") or {}).get("Records Read"))
            g["output_bytes"] += _num((m.get("Output Metrics") or {}).get("Bytes Written"))
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += (_num(sr.get("Remote Bytes Read"))
                                        + _num(sr.get("Local Bytes Read")))
            task_rows[sid].append(int(_num(sr.get("Total Records Read"))))
        elif kind == "SparkListenerStageCompleted":
            info = event.get("Stage Info") or {}
            sid = info.get("Stage ID")
            g = out[stage_group.get(sid, "none")]
            g["stages"] += 1
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name == PY_SENT:
                    g["py_bytes_sent"] += _num(acc.get("Value"))
                    python_stages.add(sid)
                elif name == PY_RETURNED:
                    g["py_bytes_returned"] += _num(acc.get("Value"))
                elif name == PY_RUN:
                    g["py_run_s"] += _num(acc.get("Value")) / 1e3
                elif name == PY_START:
                    g["py_start_s"] += _num(acc.get("Value")) / 1e3
    for sid in python_stages:
        out[stage_group.get(sid, "none")]["arrow_batches"] += sum(
            math.ceil(r / batch_rows) for r in task_rows[sid] if r > 0)
    for group, n in jobs.items():
        out[group]["spark_jobs"] += n
    return {k: dict(v) for k, v in out.items()}


def read_event_log_dir(path: Path, batch_rows: int = 1024) -> Dict[str, Dict[str, float]]:
    files = sorted(p for p in path.iterdir() if p.is_file())
    if not files:
        return {}
    with open(files[-1]) as fh:
        return read_event_log(fh, batch_rows)
