"""Host diagnostics recorded with every run: a fixed-work CPU and memory-bus
probe, and the peak RSS of the Spark Python workers. Neither is a gate."""

from __future__ import annotations

import os
import time


def host_probe() -> dict:
    """Single-thread uint8->f32 convert+sum (cpu) and 64 MiB copies (membw),
    the same two probes as ``bench._host_probe`` at a size that stays light
    on a shared host. Seconds; larger means a slower or busier host."""
    import numpy as np

    a = np.random.RandomState(0).randint(0, 256, (2048, 2048), dtype=np.uint8)
    a.astype(np.float32).sum()
    t0 = time.perf_counter()
    for _ in range(10):
        a.astype(np.float32).sum()
    cpu = time.perf_counter() - t0
    big = np.ones(64 << 20, dtype=np.uint8)
    big.copy()
    t0 = time.perf_counter()
    for _ in range(8):
        big.copy()
    membw = time.perf_counter() - t0
    return {"cpu_s": round(cpu, 4), "membw_s": round(membw, 4)}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _status_kb(pid: int, key: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _descendants(root: int):
    """(pid, argv[0]) of every process under ``root``."""
    kids = _children()
    stack = list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        yield pid, _cmdline(pid).split(" ", 1)[0]


def _cpu_s(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(f[11]) + int(f[12])) / os.sysconf("SC_CLK_TCK")


def cpu_seconds(root: int | None = None) -> dict:
    """CPU seconds (user+system) used so far by the JVM and by the Python
    processes under ``root`` (default: this process)."""
    out = {"jvm": 0.0, "python": 0.0}
    for pid, argv0 in _descendants(os.getpid() if root is None else root):
        if argv0.endswith("java"):
            out["jvm"] += _cpu_s(pid)
        elif "python" in argv0:
            out["python"] += _cpu_s(pid)
    return out


def worker_rss_peak_mb(root: int | None = None) -> float:
    """Highest VmHWM (peak RSS) over the live Python processes under ``root``
    (default: this process): the PySpark daemon and the workers it forks."""
    peaks = [
        _status_kb(pid, "VmHWM")
        for pid, argv0 in _descendants(os.getpid() if root is None else root)
        if "python" in argv0
    ]
    peaks = [p for p in peaks if p is not None]
    return max(peaks) / 1024.0 if peaks else 0.0
