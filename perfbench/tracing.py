"""Benchmark-side tracing and process accounting.

- :class:`Tracer` keeps spans (name, start, end, parent, run id) in
  memory around the benchmark's calls into the package and writes them
  out once, at the end of the run. While a span is open its id is set
  as the Spark local property ``perfbench.span``, so every Spark job the
  call triggers carries it into the event log (see ``eventlog.py``).
  A disabled tracer records nothing and touches no Spark state.
- :class:`ProcessWatch` samples the resident set of every process this
  run started (the driver JVM and its Python workers), reads their CPU
  time and, at the end, waits for each of them to exit.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self.spark_context = None  # set once a session exists

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self.spark_context
        prev = sc.getLocalProperty(SPAN_PROPERTY) if sc is not None else None
        if sc is not None:
            sc.setLocalProperty(SPAN_PROPERTY, str(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty(SPAN_PROPERTY, prev)

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def ancestor(self, span_id: int, name: str):
        """The nearest span named ``name`` at or above ``span_id``."""
        while span_id is not None:
            rec = self.spans[span_id]
            if rec["name"] == name:
                return rec
            span_id = rec["parent"]
        return None

    def self_times(self) -> dict:
        """Per span name: total self time (duration minus the part of it
        covered by child spans) and call count."""
        children = defaultdict(list)
        for rec in self.spans:
            if rec["parent"] is not None:
                children[rec["parent"]].append(rec)
        out: dict = {}
        for rec in self.spans:
            covered, cursor = 0.0, rec["start"]
            for ch in sorted(children[rec["id"]], key=lambda r: r["start"]):
                lo, hi = max(ch["start"], cursor), min(ch["end"], rec["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            total, calls = out.get(rec["name"], (0.0, 0))
            out[rec["name"]] = (total + self.duration(rec) - covered, calls + 1)
        return {k: {"self_s": v[0], "calls": v[1]} for k, v in sorted(out.items())}

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"run": self.run_id, "spans": self.spans, "self": self.self_times()}, indent=1))


def _proc_stat(pid: int):
    """(ppid, start time) of ``pid``, or None when it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    if fields[0] == "Z":
        return None
    return int(fields[1]), int(fields[19])


def _cpu_ticks(pid: int, children: bool) -> int:
    """User + system clock ticks of ``pid`` (plus its reaped children's
    when ``children``), or 0 when it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11 : 15 if children else 13])
    except (OSError, IndexError, ValueError):
        return 0


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class ProcessWatch:
    """Peak summed RSS of this process's descendants, sampled every
    ``interval`` seconds from ``/proc``, plus the set of every descendant
    seen so it can be waited for at the end."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = 0
        self.seen: dict = {}  # pid -> start time
        self._lock = threading.Lock()  # the sampler thread and the caller both sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def _descendants(self) -> list:
        parent_of = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _proc_stat(int(name))
                if st is not None:
                    parent_of[int(name)] = st
        me = os.getpid()
        found, frontier = [], [me]
        while frontier:
            p = frontier.pop()
            for pid, (ppid, start) in parent_of.items():
                if ppid == p:
                    found.append(pid)
                    frontier.append(pid)
                    self.seen.setdefault(pid, start)
        return found

    def sample(self) -> None:
        rss = sum(_rss_bytes(pid) for pid in self._descendants())
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, rss)

    def cpu_seconds(self) -> float:
        """CPU time used so far by this process and every live descendant
        (a descendant's reaped children included)."""
        ticks = _cpu_ticks(os.getpid(), children=False)
        ticks += sum(_cpu_ticks(pid, children=True) for pid in self._descendants())
        return ticks / os.sysconf("SC_CLK_TCK")

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reap(self, timeout: float = 20.0) -> list:
        """Wait until every descendant ever seen has exited; terminate
        (then kill) stragglers. Returns the pids that had to be signalled."""
        self._descendants()
        signalled = []
        deadline = time.monotonic() + timeout
        for sig in (None, signal.SIGTERM, signal.SIGKILL):
            alive = [p for p, start in self.seen.items() if (_proc_stat(p) or (0, None))[1] == start]
            if not alive:
                break
            for pid in alive:
                if sig is not None:
                    try:
                        os.kill(pid, sig)
                        signalled.append(pid)
                    except OSError:
                        pass
            while time.monotonic() < deadline and any(
                (_proc_stat(p) or (0, None))[1] == self.seen[p] for p in alive
            ):
                time.sleep(0.05)
            deadline = time.monotonic() + 5.0
        return signalled
