"""Process-tree accounting from /proc, and the host context of a run.

The program under test is a process tree: this Python driver, the JVM
it launches, and the Python workers the JVM forks. CPU time and
resident memory are summed over that tree.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as handle:
            raw = handle.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ")"
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(v) for v in fields[11:15])
    return total / _TICKS


def tree_hwm_mb(root: int) -> float:
    """Sum of the peak resident set (VmHWM) of every live tree process."""
    total_kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as handle:
                for line in handle:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def steal_ticks() -> int:
    """Hypervisor steal ticks of the whole guest (/proc/stat cpu line)."""
    try:
        with open("/proc/stat") as handle:
            return int(handle.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def steal_share(ticks: int, seconds: float) -> float:
    """Steal over an interval as a share of one core."""
    return ticks / _TICKS / seconds if seconds > 0 else 0.0


def _git_commit(root: str) -> str:
    # a checkout without .git would make git search the parent directories
    if not os.path.exists(os.path.join(root, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def host_context(root: str, env_set: dict[str, str]) -> dict:
    """nproc, memory, load, versions, commit and the benchmark's env."""
    mem_kb = 0
    with open("/proc/meminfo") as handle:
        for line in handle:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    import duckdb
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "mem_total_gib": round(mem_kb / 1024 / 1024, 2),
        "load_1m": os.getloadavg()[0],
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "platform": platform.platform(),
        "executable": sys.executable,
        "git_commit": _git_commit(root),
        "env_set": env_set,
    }
