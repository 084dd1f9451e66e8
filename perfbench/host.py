"""Host facts and process accounting read from /proc."""

from __future__ import annotations

import hashlib
import os
import resource
import subprocess

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int | None = None) -> float:
    """utime+stime plus reaped children's, summed over ``root`` and every
    live descendant: the driver JVM (and its local executors), this
    Python process and the Python workers."""
    total = 0
    for pid in descendants(root or os.getpid()):
        fields = _stat(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def jvm_pid() -> int | None:
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            pass
    return None


def peak_rss_mb(jvm: int | None) -> dict[str, float]:
    """The JVM's VmHWM and this process's max RSS, in MiB."""
    out = {"python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "jvm": 0.0}
    if jvm is not None:
        try:
            with open(f"/proc/{jvm}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out["jvm"] = int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return out


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of the whole machine since boot. On a
    virtual machine, stolen time is CPU the hypervisor gave to other
    guests; a run that saw much of it ran on a contended host."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f[:8]
    return user + nice + system + irq + softirq, steal


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Stolen share of the CPU time the machine used or lost between
    two ``cpu_ticks`` readings."""
    busy, steal = end[0] - start[0], end[1] - start[1]
    return steal / (busy + steal) if busy + steal else 0.0


def load1() -> float:
    return os.getloadavg()[0]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def source_digest(package_dir: str) -> str:
    """sha1 over the package's Python sources: identifies the code under
    test where the checkout carries no git metadata."""
    h = hashlib.sha1()
    for dirpath, dirs, files in os.walk(package_dir):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, package_dir).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]
