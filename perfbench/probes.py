"""Outside-in probes: host facts, process start time, the peak RSS of the
Spark Python workers (read from /proc, not reported by the engine) and the
size of a written table on disk."""

from __future__ import annotations

import os


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests since boot, summed
    over this host's CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started, from /proc/self/stat."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 (starttime); fields[0] is 3
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we listed /proc
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _status(pid: int) -> dict[str, str]:
    out = {}
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            key, _, val = line.partition(":")
            out[key] = val.strip()
    return out


def python_worker_hwm_mb() -> float:
    """Largest VmHWM (peak resident set) among the Python processes that
    descend from this one through the JVM: the pyspark daemon and the
    workers it forks. The driver itself is not counted. 0.0 if none run."""
    peak_kb = 0
    for pid in descendants():
        try:
            st = _status(pid)
        except OSError:
            continue  # the worker ended while we looked
        if st.get("Name", "").startswith("python") and "VmHWM" in st:
            peak_kb = max(peak_kb, int(st["VmHWM"].split()[0]))
    return peak_kb / 1024.0


def dir_usage(path: str) -> tuple[int, int]:
    """(regular files, bytes) under ``path``."""
    n_files = n_bytes = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(dirpath, fn))
    return n_files, n_bytes


def descendants() -> list[int]:
    """Every live process below this one."""
    kids = _children()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (an unreaped zombie counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
