"""Host speed probe.

The per-core speed of a shared host drifts: the same Python work can
take 30% longer from one second to the next, and CPU time drifts with
wall time, so it is not a scheduling artefact.  The benchmark therefore
times a fixed probe — the standard library's ``html.parser`` over a
fixed document, no engine code — interleaved with the measured work,
and reports times scaled to a reference host speed:

    scaled time = measured time * REFERENCE_S / mean probe time

where the probe times are those taken while the measured work ran.
The probe's CPU time does not count time the hypervisor gives to other
guests (steal), which stretches every wall time: so each scaled time is
also multiplied by the share of the CPU time wanted in its interval
that the guest got, ``busy / (busy + steal)`` from ``/proc/stat``.
The probe runs no engine code and reads CPU time with the garbage
collector off, so a slower engine, or one that keeps more objects
alive, moves the scaled times as it moves the measured ones
(``tests/test_perfbench.py`` checks this for the ``pages`` loop).  Work
the engine adds on other cores is not divided out while a core stays
free: Spark runs at ``local[2]`` on four cores.  The measured values are
kept in the run's annotations.
"""

from __future__ import annotations

import gc
import statistics
import threading
import time
from html.parser import HTMLParser
from typing import List, Optional, Tuple

# a fixed document: never derived from the generator, so the probe's
# work stays the same whatever the workloads become
PROBE_DOC = "<html><body>" + "".join(
    f'<div class="row r{i % 7}"><p class="k">key {i}</p>'
    f'<span data-v="{i * 37 % 101}">value &amp; {i * 13}</span></div>'
    for i in range(12)) + "</body></html>"
# probe time at the reference speed (about this host's typical speed)
REFERENCE_S = 0.0005


def probe() -> float:
    """CPU time of one probe on the calling thread, in seconds.  CPU
    time, not wall time: a probe that waits for a core busy with the
    measured work would read that wait as a slow host.  The garbage
    collector is off during the probe, so a collection of the objects
    the engine keeps alive is not read as a slow host either."""
    enabled = gc.isenabled()
    gc.disable()
    try:
        t0 = time.thread_time()
        parser = HTMLParser()
        parser.feed(PROBE_DOC)
        parser.close()
        return time.thread_time() - t0
    finally:
        if enabled:
            gc.enable()


def cpu_ticks() -> Tuple[int, int]:
    """(busy, steal) clock ticks of all CPUs since boot."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def run_share(before: Tuple[int, int], after: Tuple[int, int]) -> float:
    """Share of the CPU time wanted between two :func:`cpu_ticks` readings
    that the guest got (1.0 without steal)."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return busy / (busy + steal) if busy > 0 else 1.0


def scale(probe_times: List[float]) -> float:
    """Factor that turns a time measured during ``probe_times`` into a
    time at the reference speed."""
    if not probe_times:
        raise ValueError("no probe samples in the measured interval")
    return REFERENCE_S / statistics.fmean(probe_times)


class SpeedMeter:
    """Probes on a background thread every ``period_s``, for work that
    runs outside this interpreter (the Spark JVM and Python workers)
    while the driver thread waits."""

    def __init__(self, enabled: bool = True, period_s: float = 0.05):
        self.enabled = enabled
        self.period_s = period_s
        self.samples: List[Tuple[float, float]] = []    # (start, seconds)
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def __enter__(self) -> "SpeedMeter":
        if self.enabled:
            self._thread = threading.Thread(target=self._loop, daemon=True)
            self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), probe()))
            self._stop.wait(self.period_s)

    def __exit__(self, *exc) -> None:
        if self._thread is not None:
            self._stop.set()
            self._thread.join(timeout=5)

    def between(self, t0: float, t1: float) -> List[float]:
        return [d for t, d in list(self.samples) if t0 <= t <= t1]
