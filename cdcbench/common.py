"""Shared plumbing for the workloads: the run directory, the Spark session,
child processes and peak memory, the load probe, spans and small statistics."""

from __future__ import annotations

import os
import shutil
import signal
import time
from contextlib import contextmanager

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".cdcbench_work")
OUT = os.path.join(ROOT, "cdcbench_out")


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_session(cores: int, event_log: bool):
    """The package's own session builder on ``local[cores]``; the extra conf
    only keeps scratch files inside the run directory and, for a traced run,
    turns on the event log."""
    from flink_cdc_msk_spark.session import get_spark

    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        logs = os.path.join(WORK, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logs,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="cdcbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs) -> float:
    return quantile(xs, 0.5)


def descendants() -> list[int]:
    """Pids of every live descendant of this process, parents first."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop(0)
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def kill_descendants() -> None:
    """SIGKILL every process this run started that is still alive, and reap
    the direct children."""
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                time.sleep(0.05)
        except ChildProcessError:
            break


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory (the kernel's VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")


def load_probe() -> float:
    """Co-tenant noise reading: ``bench._load_probe`` (median seconds of a
    fixed CPU-bound unit across ``cpu_count`` processes), -1 if unavailable."""
    try:
        from bench import _load_probe
    except ImportError:
        return -1.0
    return _load_probe(os.cpu_count() or 4)


class Tracer:
    """In-memory spans (name, id, parent, start, end, attributes).  A
    disabled tracer records nothing, so untraced runs pay one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, sid=None, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {"name": name, "id": sid, "parent": self._stack[-1]
               if self._stack else None, "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def durations_ms(self, name: str) -> list[float]:
        return [1000 * (s["end"] - s["start"]) for s in self.spans
                if s["name"] == name and "end" in s]
