"""Process-tree memory sampling and shutdown from /proc (psutil-free).

The tree is this Python driver, the Spark JVM it launched and the Python
workers the JVM forks. RSS is summed over the tree every ``interval``
seconds by a daemon thread; peaks are kept per role.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int] | None:
    """(comm, ppid) of ``pid``, or None if it has gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return None
    # comm may hold spaces/parens: split on the LAST ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    return comm, int(raw[raw.rindex(")") + 2 :].split()[1])


def descendants(root: int) -> dict[int, str]:
    """pid -> comm for every live descendant of ``root`` (root excluded)."""
    children: dict[int, list[int]] = {}
    comms: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        comms[int(name)] = st[0]
        children.setdefault(st[1], []).append(int(name))
    out, todo = {}, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out[pid] = comms.get(pid, "?")
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def process_age_s() -> float:
    """Seconds since this process started (10 ms tick resolution)."""
    with open("/proc/self/stat", "rb") as f:
        raw = f.read().decode()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def read_chars() -> int:
    """Bytes this process has read through read(2)-like calls (rchar)."""
    try:
        with open("/proc/self/io") as f:
            for line in f:
                if line.startswith("rchar:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies summed over all CPUs, from /proc/stat.

    busy = user + nice + system + irq + softirq; steal = time this VM's
    CPUs were runnable but the hypervisor ran another guest."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def contention(busy: int, steal: int) -> float:
    """Share of the CPU time this VM asked for that other guests got."""
    return steal / (busy + steal) if busy + steal else 0.0


class RssSampler:
    """Peak summed RSS of the process tree, split into driver/JVM/workers."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.me = os.getpid()
        self.peak = {"total": 0, "driver": 0, "jvm": 0, "workers": 0, "n_workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def sample(self) -> None:
        parts = {"driver": rss_bytes(self.me), "jvm": 0, "workers": 0}
        n_workers = 0
        for pid, comm in descendants(self.me).items():
            role = "jvm" if comm == "java" else "workers" if comm.startswith("python") else None
            if role:
                parts[role] += rss_bytes(pid)
                n_workers += role == "workers"
        parts["total"] = sum(parts.values())
        parts["n_workers"] = n_workers
        for key, val in parts.items():
            self.peak[key] = max(self.peak[key], val)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def peak_mb(self, role: str = "total") -> float:
        return self.peak[role] / 2**20 if role != "n_workers" else self.peak[role]


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return False
    return raw[raw.rindex(")") + 2 :].split()[0] != "Z"


def wait_gone(pids, timeout: float) -> list[int]:
    """Wait for ``pids`` to exit; SIGKILL what is left. Returns the killed."""
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if _running(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    return alive
