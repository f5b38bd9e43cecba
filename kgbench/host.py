"""Process-tree accounting and host context, read from /proc.

This Python process, the Spark JVM it launches and the Python workers the
JVM forks are one process tree rooted at this process, so CPU and memory
are summed over that tree.  CPU includes reaped children (cutime and
cstime), so work done by a worker that has already exited is counted.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields after ')' are fixed
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """root and every live descendant of it."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """user + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_pss_mb(root: int | None = None) -> float:
    """Summed proportional set size of the tree.  The Python workers are
    forked from one daemon and share its pages; PSS counts a shared page
    once across its sharers, where summed RSS counts it in every one."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, StopIteration, IndexError, ValueError):
            continue
    return total_kb / 1024


class MemSampler:
    """Background sampler of the tree's summed PSS; `peak_mb` is the
    highest sample.  Use as a context manager so the thread always ends."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self.period_s)

    def read_mb(self) -> float:
        """The peak so far, including a sample taken now."""
        self.peak_mb = max(self.peak_mb, tree_pss_mb())
        return self.peak_mb

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def steal_ticks() -> int:
    """Hypervisor steal time of the whole host so far, in clock ticks."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def stream_gbs(repo: str, nproc: int = 4) -> float | None:
    """Aggregate STREAM-triad GB/s of `nproc` concurrent one-rep
    scripts/hw_probe.py mem workers.  Context only: None on any failure."""
    env = dict(os.environ, SPARK_GRAFT_PROBE_REPS="1")
    cmd = [sys.executable, os.path.join(repo, "scripts", "hw_probe.py"),
           "--worker", "mem"]
    procs = [subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
             for _ in range(nproc)]
    total, ok = 0.0, True
    for p in procs:
        try:
            out, _ = p.communicate(timeout=120)
            total += json.loads(out.strip().splitlines()[-1])["thr"]
        except (subprocess.TimeoutExpired, ValueError, IndexError, KeyError):
            p.kill()
            p.wait()
            ok = False
    return round(total / 1e9, 2) if ok else None


def commit(repo: str) -> str | None:
    """HEAD of the checkout when it is a git work tree, else None."""
    try:
        out = subprocess.run(
            ["git", "-C", repo, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def context(repo: str, nproc: int, stream: bool) -> dict:
    import pyspark

    return {
        "nproc": nproc,
        "stream_gbs_4proc": stream_gbs(repo) if stream else None,
        "pyspark": pyspark.__version__,
        "commit": commit(repo),
    }
