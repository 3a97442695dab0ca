"""Process-tree and host counters read from /proc (Linux only)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_s(pid: int) -> float:
    """User + system CPU of `pid` and of its reaped children."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # utime, stime, cutime, cstime are fields 14-17 of /proc/pid/stat
    return sum(int(x) for x in fields[11:15]) / _TICK


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of `pid` in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def tree_cpu(root: int) -> dict[str, float]:
    """CPU seconds of the Spark driver (`root`), the JVM and the Python
    workers below it, each including its reaped children."""
    out = {"driver": cpu_s(root), "jvm": 0.0, "worker": 0.0}
    for p in descendants(root):
        out["jvm" if comm(p) == "java" else "worker"] += cpu_s(p)
    return out


def jvm_pid(root: int) -> int | None:
    for p in descendants(root):
        if comm(p) == "java":
            return p
    return None


def pids_with_env(key: str, value: str) -> list[int]:
    """Processes whose environment holds `key=value`: a run's whole
    tree, including Spark's Python daemon, which leaves its parent's
    process group."""
    want = f"{key}={value}".encode()
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/environ", "rb") as f:
                    if want in f.read().split(b"\0"):
                        out.append(int(entry))
            except OSError:  # ended meanwhile, or not ours
                pass
    return out


def host_steal_s() -> float:
    """Cumulative steal time of all host CPUs as seen by this guest."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK
