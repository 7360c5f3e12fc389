"""Spans around calls into the engine's layers, and Spark's own metrics.

Spans live in memory and are written once when the run ends. Each has
a name, start, end, parent and run id. A span's self time is its
duration minus the time its child spans cover.

Layer spans come from wrapping the engine's public entry points for
the length of one traced operation (``patched``); nothing in the
engine is edited. Every Spark job started inside a span carries the
span in its job group, so the stage, task and SQL metrics Spark's
status store keeps for those jobs (read from the driver UI's REST API
on localhost) are attributed to the innermost span that ran them.
"""

import contextlib
import functools
import json
import time
import urllib.request
from typing import Optional


class Tracer:
    def __init__(self, run_id: str, sc):
        self.run_id = run_id
        self.sc = sc
        self.spans: list = []
        self._stack: list = []

    def group(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(self.group(sid), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.group(self._stack[-1]),
                                    self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def subtree(self, root_id: int) -> list:
        """The span and all its descendants (ids are creation-ordered)."""
        ids = {root_id}
        out = [self.spans[root_id]]
        for s in self.spans[root_id + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def self_times(self, root_id: int) -> dict:
        """span id -> self time (s) for the subtree under ``root_id``."""
        tree = self.subtree(root_id)
        children: dict = {}
        for s in tree[1:]:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in tree:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a = max(a, cur_end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


@contextlib.contextmanager
def patched(tracer: Tracer, targets):
    """Wrap ``(owner, attr, span_name, attrs_fn)`` targets in spans.

    A target the engine no longer has is skipped and reported in the
    yielded list, so a refactor of the engine moves time into the
    parent span (raising ``trace.unattributed_frac``) instead of
    breaking the benchmark.
    """
    saved, missing = [], []
    for owner, attr, name, attrs_fn in targets:
        orig = owner.__dict__.get(attr) if isinstance(owner, type) \
            else getattr(owner, attr, None)
        if orig is None:
            missing.append(f"{getattr(owner, '__name__', owner)}.{attr}")
            continue

        def wrapper(*a, _orig=orig, _name=name, _fn=attrs_fn, **kw):
            with tracer.span(_name, **(_fn(*a, **kw) if _fn else {})):
                return _orig(*a, **kw)

        functools.update_wrapper(wrapper, orig)
        setattr(owner, attr, wrapper)
        saved.append((owner, attr, orig))
    try:
        yield missing
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


# -- Spark status store ------------------------------------------------------

# SQL metrics of the Python evaluation nodes (ArrowEvalPython & co).
# The status store keeps them only as Spark formats them for its UI
# ("648.7 KiB", "2.3 s"), so they carry that resolution.
_PY_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
    "time to start Python workers": "python_boot_s",
}
_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_ui_value(text: str) -> float:
    """'2.3 s' or 'total (min, med, max ...)\n12.3 s (...)' -> 2.3 / 12.3
    in bytes or seconds."""
    num, unit = text.strip().splitlines()[-1].split()[:2]
    return float(num.replace(",", "")) * _UNITS[unit]


class SparkStatus:
    """Reads job, stage and task metrics of finished jobs by job group."""

    def __init__(self, sc, cores: int):
        host_url = sc.uiWebUrl
        if not host_url:
            raise RuntimeError("the Spark UI is disabled; the traced run "
                               "needs its status store")
        port = host_url.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.cores = cores

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self, groups: set, timeout: float = 10.0) -> list:
        """Finished jobs of the given groups (waits for the listener)."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("/jobs")
                    if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs) or \
                    time.monotonic() > deadline:
                return jobs
            time.sleep(0.05)

    def metrics(self, groups: set) -> dict:
        """Engine metrics summed over the jobs of the given groups."""
        jobs = self.jobs(groups)
        total = _empty()
        total["jobs"] = len(jobs)
        seen = set()
        longest = None  # (stage wall, task durations) of the longest stage
        for j in jobs:
            for sid in j["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                for st in self._stage_attempts(sid):
                    tasks = self._tasks(sid, st)
                    wall = _stage_wall(tasks)
                    _add_stage(total, st, tasks, wall, self.cores)
                    durs = [t["duration"] for t in tasks if "duration" in t]
                    if durs and (longest is None or wall > longest[0]):
                        longest = (wall, durs)
        if longest:
            durs = sorted(longest[1])
            med = durs[len(durs) // 2]
            total["task_skew"] = durs[-1] / med if med else 0.0
        self._add_python_sql(total, {j["jobId"] for j in jobs})
        return total

    def _add_python_sql(self, acc: dict, job_ids: set) -> None:
        for ex in self._get("/sql?details=true&planDescription=false"
                            "&length=100000"):
            if not job_ids & set(ex.get("successJobIds", ())):
                continue
            for node in ex.get("nodes", ()):
                for m in node.get("metrics", ()):
                    key = _PY_METRICS.get(m["name"])
                    if key:
                        acc[key] += parse_ui_value(m["value"])

    def _stage_attempts(self, sid: int) -> list:
        return [st for st in self._get(f"/stages/{sid}")
                if st["status"] == "COMPLETE"]

    def _tasks(self, sid: int, st: dict) -> list:
        # the listener may trail the job's end by a few events
        deadline = time.monotonic() + 5.0
        while True:
            tasks = self._get(f"/stages/{sid}/{st['attemptId']}/taskList"
                              f"?length={max(st['numTasks'], 1) * 2}")
            done = [t for t in tasks if t.get("status") == "SUCCESS"]
            if len(done) >= st["numCompleteTasks"] or \
                    time.monotonic() > deadline:
                return done


def _empty() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "jvm_gc_s": 0.0, "task_busy_s": 0.0,
            "stage_core_s": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "task_skew": 0.0,
            **{v: 0 for v in _PY_METRICS.values()}}


def _stage_wall(tasks: list) -> float:
    if not tasks:
        return 0.0
    start = min(_ms(t["launchTime"]) for t in tasks)
    end = max(_ms(t["launchTime"]) + t.get("duration", 0) for t in tasks)
    return (end - start) / 1e3


def _add_stage(acc: dict, st: dict, tasks: list, wall: float,
               cores: int) -> None:
    acc["stages"] += 1
    acc["tasks"] += len(tasks)
    acc["executor_run_s"] += st["executorRunTime"] / 1e3
    acc["executor_cpu_s"] += st["executorCpuTime"] / 1e9
    acc["jvm_gc_s"] += st.get("jvmGcTime", 0) / 1e3
    acc["shuffle_read_bytes"] += st["shuffleReadBytes"]
    acc["shuffle_write_bytes"] += st["shuffleWriteBytes"]
    acc["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
    acc["task_busy_s"] += sum(t.get("duration", 0) for t in tasks) / 1e3
    acc["stage_core_s"] += wall * min(cores, max(len(tasks), 1))


def _ms(stamp: str) -> float:
    """Status-store timestamp ('2026-10-17T10:05:59.123GMT') -> ms."""
    from datetime import datetime, timezone

    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1e3


def core_idle_frac(m: dict) -> float:
    """Share of the cores a stage could use that sat idle while it ran
    (stragglers hold a stage open while the other cores wait)."""
    if not m["stage_core_s"]:
        return 0.0
    return max(0.0, 1.0 - m["task_busy_s"] / m["stage_core_s"])


def maybe(tracer: Optional[Tracer], name: str, **attrs):
    """A span when tracing, else a no-op context."""
    return tracer.span(name, **attrs) if tracer else contextlib.nullcontext()
