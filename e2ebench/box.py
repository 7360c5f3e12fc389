"""What the run ran on: a record written next to every result.

The calibration loop is logged for reading the numbers later; nothing
is ever rescaled by it. The box's speed drifts in ways the guest
cannot see (see README.md), so only medians within a run are compared.
"""

import os
import platform
import statistics
import subprocess
import time
from pathlib import Path


def cpu_times() -> list:
    """Aggregate /proc/stat cpu counters (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list, after: list) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def calibration_s(reps: int = 1) -> float:
    """Median of ``reps`` fixed single-threaded extraction loops."""
    from zzzarchived_arxiv_fulltext_spark.functions import extract_document

    spans = [{"kind": "text", "text": ("word " * 200 + "ﬁn- \nish. ") * 3,
              "media_ref": None, "offset": i} for i in range(4)]
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for _ in range(60):
            extract_document(spans)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def git_head(repo: Path):
    if not (repo / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "-C", str(repo), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def record(repo: Path, nproc: int, master: str) -> dict:
    import pyspark

    return {
        "nproc": nproc,
        "affinity": sorted(os.sched_getaffinity(0)),
        "master": master,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "git_head": git_head(repo),
        "loadavg_start": os.getloadavg(),
    }


def _descendants(pid: int) -> list:
    children: dict = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p.name))
    out, todo = [], [pid]
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo += children.get(cur, [])
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of the driver JVM plus its live Python workers (the sum
    of per-process peaks, so an upper bound on the joint peak)."""
    total = 0
    for pid in _descendants(jvm_pid):
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024
