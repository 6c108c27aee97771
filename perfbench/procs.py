"""Process-tree memory sampling from /proc, and process clean-up.

The engine runs as three kinds of process: this Python driver, the JVM
it launches, and the Python UDF workers the JVM forks.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time


def _parents() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        fields = stat[stat.rfind(")") + 2 :].split()
        out[int(entry)] = int(fields[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for child in children.get(pid, []):
            out.append(child)
            todo.append(child)
    return out


def peak_rss_bytes(pid: int) -> int:
    """The kernel's high-water mark of the process's resident set."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


POLL_S = 0.5


class PeakRss:
    """Peak memory of this process and its descendants: the largest sum,
    over the processes alive at one poll, of each one's resident-set
    high-water mark (VmHWM, which the kernel tracks exactly). A Python
    UDF worker that has exited no longer counts, so workers that replace
    each other are not added up as if they had run side by side.

    A process counts from the second poll that finds it. The JVM starts
    helpers (the UDF daemon, ``chmod``) by vfork and exec; until the exec
    the child shares the JVM's memory and reports the JVM's whole
    resident set as its own, and one such child caught by a poll would
    add the JVM a second time."""

    def __init__(self):
        self.marks: dict[int, int] = {}
        self.names: dict[int, str] = {}
        self.polls: dict[int, int] = {}
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _poll(self) -> None:
        me = os.getpid()
        live = 0
        for pid in [me] + descendants(me):
            self.polls[pid] = self.polls.get(pid, 0) + 1
            if self.polls[pid] < 2:
                continue
            mark = peak_rss_bytes(pid)
            live += max(self.marks.get(pid, 0), mark)
            if mark:
                self.marks[pid] = max(self.marks.get(pid, 0), mark)
                try:  # read every time: the JVM starts as a shell that execs java
                    with open(f"/proc/{pid}/comm") as fh:
                        self.names[pid] = fh.read().strip()
                except OSError:
                    pass
        self.peak = max(self.peak, live)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._poll()
            self._stop.wait(POLL_S)

    def reset_self(self) -> None:
        """Forget this process's peak so far (``clear_refs`` code 5 resets
        VmHWM): the benchmark's own input generation is not the engine's
        memory."""
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
        self.marks.pop(os.getpid(), None)
        self.peak = 0

    def by_command(self) -> dict[str, list[float]]:
        """Per command name (python3, java, ...): the peak MB summed over
        every process counted, alive together or not, and their number."""
        out: dict[str, list[float]] = {}
        for pid, mark in self.marks.items():
            entry = out.setdefault(self.names.get(pid, "?"), [0.0, 0])
            entry[0] += mark / (1024.0 * 1024.0)
            entry[1] += 1
        return out

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._poll()  # high-water marks only grow: the last poll is exact

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024.0 * 1024.0)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process this
    run started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline + 5:
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
