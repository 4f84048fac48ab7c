"""Outside-in ``/proc`` sampler for the driver -> JVM -> pyspark.daemon tree.

Reads only procfs (no psutil): process-tree discovery through
``/proc/<pid>/task/<tid>/children``, PSS from ``smaps_rollup``, CPU from
``stat``. Also reads two machine diagnostics that explain a drifted run
but are not metrics: ``/proc/stat`` steal time and ``/proc/pressure/cpu``.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        text = _read(f"/proc/{pid}/task/{tid}/children")
        if text:
            out.extend(int(c) for c in text.split())
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children(p))
    return out


def _cmdline(pid: int) -> str:
    text = _read(f"/proc/{pid}/cmdline")
    return text.replace("\0", " ") if text else ""


def _stat_fields(pid: int) -> list[str] | None:
    text = _read(f"/proc/{pid}/stat")
    if text is None:
        return None
    # the comm field may hold spaces; everything after its ')' splits cleanly
    return text[text.rindex(")") + 2 :].split()


def cpu_seconds(pid: int, with_children: bool = False) -> float:
    """utime + stime of ``pid`` (plus the reaped children's times)."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])  # utime, stime (fields 14, 15)
    if with_children:
        ticks += int(f[13]) + int(f[14])  # cutime, cstime
    return ticks / _CLK


def pss_kb(pid: int) -> int:
    text = _read(f"/proc/{pid}/smaps_rollup")
    if text:
        for line in text.splitlines():
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def classify(root: int) -> dict[str, list[int]]:
    """Split the tree under ``root`` (the driver) into ``driver``, ``jvm``,
    ``daemon`` (pyspark.daemon parents) and ``worker`` (their forks)."""
    roles: dict[str, list[int]] = {"driver": [root], "jvm": [], "daemon": [], "worker": []}
    for child in children(root):
        for pid in descendants(child):
            cmd = _cmdline(pid)
            if "pyspark.daemon" in cmd:
                parent = _stat_fields(pid)
                ppid = int(parent[1]) if parent else 0
                role = "worker" if "pyspark.daemon" in _cmdline(ppid) else "daemon"
                roles[role].append(pid)
            elif "java" in cmd:
                roles["jvm"].append(pid)
    return roles


def python_worker_cpu(roles: dict[str, list[int]]) -> float:
    """CPU of every pyspark.daemon process, live or reaped by its daemon."""
    return sum(cpu_seconds(p, with_children=True) for p in roles["daemon"]) + sum(
        cpu_seconds(p) for p in roles["worker"]
    )


def tree_cpu(roles: dict[str, list[int]]) -> dict[str, float]:
    """CPU seconds so far of the driver, the JVM and the Python workers."""
    return {
        "driver": sum(cpu_seconds(p) for p in roles["driver"]),
        "jvm": sum(cpu_seconds(p) for p in roles["jvm"]),
        "python": python_worker_cpu(roles),
    }


def cpu_steal_ticks() -> int:
    text = _read("/proc/stat") or ""
    for line in text.splitlines():
        if line.startswith("cpu "):
            f = line.split()
            return int(f[8]) if len(f) > 8 else 0
    return 0


def cpu_pressure() -> dict[str, float]:
    """``some`` line of ``/proc/pressure/cpu`` ({} where PSI is absent)."""
    text = _read("/proc/pressure/cpu") or ""
    for line in text.splitlines():
        if line.startswith("some"):
            return {k: float(v) for k, v in (kv.split("=") for kv in line.split()[1:])}
    return {}


class Sampler:
    """Background sampler of the tree's PSS and worker births, used as a
    context around the timed loop.

    ``peak_pss_mb`` is the highest PSS summed over the whole tree seen at
    any sample; ``workers_seen`` every pyspark.daemon worker PID observed.
    On exit, ``cpu_s`` holds each role's CPU seconds inside the context,
    ``steal_s`` the machine's steal time and ``psi`` its CPU pressure.
    """

    def __init__(self, root: int, period_s: float = 0.1):
        self.root = root
        self.period_s = period_s
        self.peak_pss_kb = 0
        self.samples = 0
        self.workers_seen: set[int] = set()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> dict[str, list[int]]:
        roles = classify(self.root)
        total = sum(pss_kb(p) for pids in roles.values() for p in pids)
        self.peak_pss_kb = max(self.peak_pss_kb, total)
        self.workers_seen.update(roles["worker"])
        self.samples += 1
        return roles

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "Sampler":
        self._cpu0 = tree_cpu(self.sample())
        self._steal0, self._psi0 = cpu_steal_ticks(), cpu_pressure()
        self._thread = threading.Thread(target=self._loop, name="procmon", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        cpu1 = tree_cpu(self.sample())
        self.cpu_s = {k: v - self._cpu0[k] for k, v in cpu1.items()}
        self.steal_s = (cpu_steal_ticks() - self._steal0) / _CLK
        psi1 = cpu_pressure()
        self.psi = {
            "some_avg10": psi1.get("avg10"),
            "some_avg60": psi1.get("avg60"),
            "some_stall_s": (psi1.get("total", 0.0) - self._psi0.get("total", 0.0)) / 1e6,
        }

    @property
    def peak_pss_mb(self) -> float:
        return self.peak_pss_kb / 1024.0
