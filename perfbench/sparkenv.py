"""Spark session, working directories and process-tree memory for the
benchmark.

Everything Spark, the JVM and the Python workers write goes under the
benchmark's working directory inside the checkout: local dirs, temp
files, the warehouse and the event log.
"""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path
from typing import Dict, List, Optional, Tuple

MASTER = "local[2]"
DRIVER_MEMORY = "1g"


def prepare_env(root: Path, work: Path) -> None:
    """Environment for the driver, the JVM it launches and the Python
    workers the JVM forks.  Must run before the first Spark session."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    import tempfile
    tempfile.tempdir = None


def spark_conf(work: Path, event_log: Optional[Path]) -> Dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(work: Path, event_log: Optional[Path] = None):
    from engine.session import get_spark

    spark = get_spark(app_name="perfbench", master=MASTER,
                      extra_conf=spark_conf(work, event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> Dict[int, list]:
    kids: Dict[int, list] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def _rss_kb(pid: int, field: str = "VmRSS") -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb() -> float:
    """RSS of this process and all its descendants, in MB."""
    kids = _children()
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += _rss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0


class PeakRss:
    """Samples the RSS of the process tree on a background thread.
    Without children (no Spark) the kernel's own high-water mark is
    exact, so no thread runs."""

    def __init__(self, with_children: bool, interval_s: float = 0.1):
        self.with_children = with_children
        self.interval_s = interval_s
        self.samples: List[Tuple[float, float]] = []      # (time, MB)
        self._stop = threading.Event()
        self._thread = None

    def __enter__(self) -> "PeakRss":
        if self.with_children:
            self._thread = threading.Thread(target=self._loop, daemon=True)
            self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), tree_rss_mb()))
            self._stop.wait(self.interval_s)

    def __exit__(self, *exc) -> None:
        if self._thread is not None:
            self._stop.set()
            self._thread.join(timeout=5)

    def peak_between(self, t0: float, t1: float) -> float:
        """Peak tree RSS sampled in [t0, t1]; without a sampling thread,
        the process high-water mark."""
        if not self.with_children:
            return _rss_kb(os.getpid(), "VmHWM") / 1024.0
        return max((mb for t, mb in list(self.samples) if t0 <= t <= t1), default=0.0)
