"""Process-subtree accounting from /proc: CPU by process kind, peak
memory, and the CPU that other tenants of the host used over the same
window.

The benchmark's subtree is this Python driver, the Spark JVM it launches
and the JVM's Python workers.  Workers can exit between samples, so each
pid keeps its last-seen CPU total.
"""

from __future__ import annotations

import os
import threading
import time

TICKS = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def system_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU-seconds of the host since boot.  Busy excludes
    idle, iowait and steal; steal is time a hypervisor gave this
    machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return (sum(vals[:8]) - vals[3] - vals[4] - steal) / TICKS, steal / TICKS


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, utime+stime jiffies, rss pages)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        comm = s[s.index("(") + 1:s.rindex(")")]
        rest = s[s.rindex(")") + 2:].split()
        # rest[1] ppid, rest[11]/rest[12] utime/stime, rest[21] rss
        out[int(d)] = (int(rest[1]), comm, int(rest[11]) + int(rest[12]),
                       int(rest[21]))
    return out


def pss_bytes(pid: int, rss_pages: int) -> int:
    """Proportional set size: a page shared by n processes (forked Python
    workers share their parent's) counts 1/n to each.  RSS when the
    kernel has no smaps_rollup."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss_pages * PAGE


def subtree(root: int, table) -> list[int]:
    """``root`` first, then its descendants in ``table``."""
    kids: dict[int, list[int]] = {}
    for pid, row in table.items():
        kids.setdefault(row[0], []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in table:
            out.append(p)
            stack.extend(kids.get(p, []))
    return out


def running(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    return s[s.rindex(")") + 2] != "Z"


def kind_of(pid: int, comm: str, root: int) -> str:
    if pid == root:
        return "driver"
    if comm == "java":
        return "jvm"
    if comm.startswith("python"):
        return "python"
    return "other"


class SubtreeSampler:
    """Samples the subtree of ``root`` every ``interval_s`` on a thread.

    ``window()`` returns CPU-seconds by kind (driver / jvm / python /
    other), the peak of the subtree's summed PSS (and its split by kind),
    the host's busy CPU
    outside the subtree and the CPU the hypervisor stole, all since the
    last ``mark()``.
    """

    def __init__(self, root: int | None = None, interval_s: float = 0.2):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._cpu: dict[int, tuple[str, int]] = {}  # pid -> (kind, jiffies)
        self._peak_pss = 0
        self._peak_detail: dict = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._base_cpu: dict[str, float] = {}
        self._t0 = 0.0
        self._busy0 = 0.0
        self._steal0 = 0.0
        self._load0 = 0.0

    def _sample(self) -> None:
        table = proc_table()
        pids = subtree(self.root, table)
        kinds = {p: kind_of(p, table[p][1], self.root) for p in pids}
        by_kind: dict[str, int] = {}
        for p, k in kinds.items():
            # "other" is helper commands the JVM spawns (chmod); until
            # their exec they share the JVM's address space, whose pages
            # would then count twice
            if k != "other":
                by_kind[k] = by_kind.get(k, 0) + pss_bytes(p, table[p][3])
        pss = sum(by_kind.values())
        with self._lock:
            if pss > self._peak_pss:
                self._peak_pss = pss
                self._peak_detail = {
                    "by_kind_mb": {k: v / 2**20 for k, v in by_kind.items()},
                    "python_procs": sum(k == "python" for k in kinds.values()),
                }
            for p, k in kinds.items():
                jif = table[p][2]
                prev = self._cpu.get(p)
                if prev is None or jif >= prev[1]:
                    self._cpu[p] = (k, jif)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            try:
                self._sample()
            except (OSError, ValueError, IndexError):
                pass  # a pid vanished mid-read; the next sample retries

    def _cpu_by_kind(self) -> dict[str, float]:
        with self._lock:
            out: dict[str, float] = {}
            for kind, jif in self._cpu.values():
                out[kind] = out.get(kind, 0.0) + jif / TICKS
        return out

    def start(self) -> None:
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        self.mark()

    def mark(self) -> None:
        """Start a new measurement window."""
        self._sample()
        self._base_cpu = self._cpu_by_kind()
        with self._lock:
            self._peak_pss = 0
        self._sample()
        self._t0 = time.perf_counter()
        self._busy0, self._steal0 = system_cpu_s()
        self._load0 = loadavg()

    def window(self) -> dict:
        self._sample()
        wall = max(time.perf_counter() - self._t0, 1e-9)
        now = self._cpu_by_kind()
        cpu = {k: now.get(k, 0.0) - self._base_cpu.get(k, 0.0)
               for k in ("driver", "jvm", "python", "other")}
        own = sum(cpu.values())
        busy, steal = system_cpu_s()
        busy -= self._busy0
        with self._lock:
            peak, detail = self._peak_pss, self._peak_detail
        return {
            "wall_s": wall,
            "cpu_s": own,
            "cpu_by_kind": cpu,
            "peak_rss_mb": peak / 2**20,
            "peak_detail": detail,
            "neighbor_cores": max(busy - own, 0.0) / wall,
            "steal_cores": (steal - self._steal0) / wall,
            "loadavg": [self._load0, loadavg()],
        }

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
