"""End-to-end benchmark of the extraction engine at local[nproc].

    python3 e2ebench/run.py --workload extract_mixed --seed 1 \\
        --seconds 15 --trace 0

Workloads: ``extract_mixed`` and ``battery`` (see README.md). One driver process, one closed-loop client: the next
op starts when the previous one and its correctness check are done,
so no two Spark jobs ever overlap.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs the same workload with layer spans and Spark's
per-job metrics and prints the per-layer metrics. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
The full record (box, every op, spans) lands in ``e2ebench/out/``.

The command runs the benchmark in a child process and stays as its
supervisor: it becomes the child subreaper of everything the run starts
(the Spark JVM, PySpark's worker daemon, which leaves its process group,
and multiprocessing's resource tracker, which outlives its parent), and
returns only once each of them has ended and been reaped.
"""

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
# the first ops (extraction) or passes (battery) of a run are checked
# but not measured: the JIT is still warming. A battery pass keeps
# getting faster for several passes (~2.5x, then ~1.25x, ~1.1x a late
# one), and the later passes spread less from run to run.
WARMUP = {"extract_mixed": 2, "battery": 2}
# measured minimums; both runs fill about a minute with set-up, which
# is what the run budget allows
MIN_OPS = 8
MIN_PASSES = 2
MIN_PASSES_TRACED = 4
WORKLOADS = ("extract_mixed", "battery")


def _isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    java_opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell")


def _setup(nproc: int, warm_path: str):
    """JVM launch, session build and package ship, then the fixed
    warm-up job: the extraction operator over the warm-up docs into a
    no-op sink. Done once per run, as every process of the program
    does it."""
    from zzzarchived_arxiv_fulltext_spark.config import build_spark
    from zzzarchived_arxiv_fulltext_spark.operators.span_extract import (
        extract_documents,
    )

    t0 = time.perf_counter()
    spark = build_spark(app_name="e2ebench", master=f"local[{nproc}]")
    t1 = time.perf_counter()
    extract_documents(spark.read.parquet(warm_path)).write.format(
        "noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def _stop(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


# -- the op loops ------------------------------------------------------------

def run_extraction_ops(wl, seconds, tracer, status) -> list:
    """Warm-up ops, then measured ops until both the minimum count and
    ``seconds`` are reached. Traced runs trace measured ops in the
    order untraced, traced, traced, untraced (so both kinds sit at the
    same mean position in the run), for the tracing overhead."""
    ops = [dict(wl.op(), warmup=True, traced=False)
           for _ in range(WARMUP[wl.name])]
    t0 = time.monotonic()
    n = 0
    while n < MIN_OPS or time.monotonic() - t0 < seconds:
        traced = tracer is not None and n % 4 in (1, 2)
        ops.append(dict(wl.op(tracer if traced else None, status),
                        warmup=False, traced=traced))
        n += 1
    return ops


def run_battery_passes(wl, seconds, tracer, status) -> list:
    """Warm-up passes, then whole measured passes; traced runs trace
    measured passes in the order untraced, traced, traced, untraced."""
    ops = []
    warm = WARMUP[wl.name]
    need = warm + (MIN_PASSES_TRACED if tracer else MIN_PASSES)
    p = 0
    while p < need or time.monotonic() - t0 < seconds:
        warmup = p < warm
        traced = (tracer is not None and not warmup
                  and (p - warm) % 4 in (1, 2))
        for q in wl.order:
            ops.append(dict(wl.op(q, tracer if traced else None, status),
                            warmup=warmup, traced=traced, pass_no=p))
        p += 1
        if p == warm:
            t0 = time.monotonic()
    return ops


# -- metrics -----------------------------------------------------------------

def end_to_end(workload: str, ops: list, setup: dict, units: float) -> dict:
    """``units``: documents one op (extraction) or one pass (battery)
    processes. Warm-up ops are checked but not measured.

    Each workload has one timing; its other metric is an alias of it:
    on ``extract_mixed``, ``pass_s`` is the median op wall; on
    ``battery``, ``docs_per_s`` is ``units / pass_s``."""
    ops = [r for r in ops if not r["warmup"]]
    if workload == "battery":
        per_q: dict = {}
        for r in ops:
            per_q.setdefault(r["query"], []).append(r["wall_s"])
        pass_s = sum(statistics.median(v) for v in per_q.values())
        docs_per_s = units / pass_s
    else:
        walls = [r["wall_s"] for r in ops]
        pass_s = statistics.median(walls)
        docs_per_s = statistics.median(units / w for w in walls)
    return {"setup_s": setup["total_s"], "docs_per_s": docs_per_s,
            "pass_s": pass_s}


_SPARK_KEYS = ("stages", "tasks", "executor_run_s", "executor_cpu_s",
               "jvm_gc_s", "task_skew", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes")


def _spark_layer(units: list) -> dict:
    from spans import core_idle_frac

    out = {f"spark.{k}": statistics.median(u[k] for u in units)
           for k in _SPARK_KEYS}
    out["spark.core_idle_frac"] = statistics.median(
        core_idle_frac(u) for u in units)
    ops = "operators.span_extract."
    out[ops + "python_bytes_sent"] = statistics.median(
        u["python_bytes_sent"] for u in units)
    out[ops + "python_bytes_returned"] = statistics.median(
        u["python_bytes_returned"] for u in units)
    for k in ("run", "init", "boot"):
        out[ops + f"python_{k}_s"] = statistics.median(
            u[f"python_{k}_s"] for u in units)
    return out


def _overhead(traced: list, untraced: list) -> float:
    return statistics.median(traced) / statistics.median(untraced) - 1.0


def per_layer_extraction(wl, ops, probes, funcs) -> dict:
    traced = [r for r in ops if r["traced"]]
    out = {k: statistics.median(r["layers"][k] for r in traced)
           for k in traced[0]["layers"]}
    out.update(_spark_layer([r["spark"] for r in traced]))
    out.update({k: v for k, v in probes.items() if not k.startswith("_")})
    out.update(funcs)
    out["trace.overhead_frac"] = _overhead(
        [r["wall_s"] for r in traced],
        [r["wall_s"] for r in ops if not (r["traced"] or r["warmup"])])
    return out


def per_layer_battery(wl, ops, status) -> dict:
    import battery

    traced = [r for r in ops if r["traced"]]
    passes = sorted({r["pass_no"] for r in traced})
    units = [status.metrics({g for r in traced if r["pass_no"] == p
                             for g in r["groups"]})
             for p in passes]
    out = _spark_layer(units)

    def qmed(query, key, rows=traced):
        return statistics.median(r[key] for r in rows if r["query"] == query)

    for fam in battery.FAMILIES:
        out[f"queries.{fam}_s"] = sum(
            qmed(q, "wall_s") for q in wl.order if wl.family[q] == fam)
    for q in battery.HEAVY_LEAVES:
        out[f"queries.{q}_s"] = qmed(q, "wall_s")
    out["queries.jobs_per_query"] = statistics.median(
        u["jobs"] for u in units) / len(wl.order)
    out["queries.materializations_per_pass"] = sum(
        qmed(q, "materializations") for q in wl.order)
    out["queries.materialize_s"] = sum(
        qmed(q, "materialize_s") for q in wl.order)
    untraced = [r for r in ops if not (r["traced"] or r["warmup"])]
    out["trace.overhead_frac"] = (
        sum(qmed(q, "wall_s") for q in wl.order)
        / sum(qmed(q, "wall_s", untraced) for q in wl.order) - 1.0)
    return out


def _metric_specs(section: str) -> list:
    """(name, unit) of the metrics BENCHMARK.json lists in ``section``."""
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec[section]]


# -- main --------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    specs = _metric_specs("per_layer" if args.trace else "end_to_end")

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _isolate(work)
    if str(REPO) not in sys.path:
        sys.path.insert(0, str(REPO))
    try:
        return _run(args, work, specs)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: Path, specs: list) -> int:
    import box
    import inputs
    from spans import SparkStatus, Tracer

    t_start = time.monotonic()
    phases = {}  # phase -> seconds since start, at its end

    def mark(phase: str) -> None:
        phases[phase] = time.monotonic() - t_start

    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    stat0 = box.cpu_times()
    record = {"box": box.record(REPO, nproc, master)}
    record["box"]["calibration_start_s"] = box.calibration_s()

    # inputs and oracle digests: before any Spark session exists
    warm = inputs.ensure("warmup", 0, nproc)
    if args.workload == "battery":
        import battery

        wl = battery.Battery(args.seed, battery.ensure_oracles())
    else:
        import extraction

        wl = extraction.ExtractMixed(
            inputs.ensure(args.workload, args.seed, nproc), work / "tables")

    mark("inputs")
    spark = None
    try:
        spark, build_s, first_s = _setup(nproc, str(warm / "input.parquet"))
        setup = {"build_spark_s": build_s, "first_job_s": first_s,
                 "total_s": build_s + first_s}
        jvm = spark._jvm
        record["box"]["java"] = jvm.java.lang.System.getProperty(
            "java.version")
        tracer = status = None
        if args.trace:
            tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}",
                            spark.sparkContext)
            status = SparkStatus(spark.sparkContext, nproc)
        wl.bind(spark)
        mark("setup")
        if args.workload == "battery":
            ops = run_battery_passes(wl, args.seconds, tracer, status)
            failed = sum(r["error"] is not None for r in ops)
            for r in ops:
                if r["error"]:
                    print(f"[oracle mismatch] {r['query']}: {r['error']}",
                          file=sys.stderr)
        else:
            ops = run_extraction_ops(wl, args.seconds, tracer, status)
            failed = sum(r["wrong_docs"] > 0 for r in ops)
        attempted = len(ops)
        mark("measure")
        if args.trace:
            if args.workload == "battery":
                metrics = per_layer_battery(wl, ops, status)
            else:
                probes = wl.probes(tracer)
                for check in ("_get_document_ok", "_pending_ok"):
                    attempted += 1
                    failed += not probes[check]
                funcs = extraction.function_timings(wl.op_docs())
                metrics = per_layer_extraction(wl, ops, probes, funcs)
            metrics["config.build_spark_s"] = setup["build_spark_s"]
            metrics["config.first_job_s"] = setup["first_job_s"]
            metrics["engine.peak_rss_mb"] = box.peak_rss_mb(
                jvm.java.lang.ProcessHandle.current().pid())
        else:
            units = (_documents_rows() * len(wl.order)
                     if args.workload == "battery" else len(wl.expected))
            metrics = end_to_end(args.workload, ops, setup, units)
    finally:
        if spark is not None:
            _stop(spark)
            mark("stop")

    record["box"]["steal_frac"] = box.steal_frac(stat0, box.cpu_times())
    record["box"]["calibration_end_s"] = box.calibration_s()
    if args.trace:
        metrics["box.steal_frac"] = record["box"]["steal_frac"]
        metrics["box.calibration_s"] = record["box"]["calibration_start_s"]
        metrics.update(_absent_layers(args.workload, specs))
    record.update(phases=phases, setup=setup, ops=ops, metrics=metrics)
    out_dir = HERE / "out"
    out_dir.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (out_dir / f"{stem}.json").write_text(json.dumps(record, indent=1,
                                                     default=str))
    if tracer:
        tracer.write(out_dir / f"{stem}-spans.jsonl")

    missing = [n for n, _ in specs if n not in metrics]
    if missing:
        print(f"metrics not produced: {missing}", file=sys.stderr)
        return 1
    _print_human(args, record, specs)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in specs},
    }))
    return 0


# per-layer metrics of layers a workload never calls; they report zero
# work. The battery op is a single layer, so nothing is unattributed.
_ABSENT = {
    "battery": ("functions.", "sources.", "plans.",
                "operators.span_extract.extract",
                "operators.span_extract.plan_s", "trace.unattributed_frac"),
    "extract_mixed": ("queries.",),
}


def _absent_layers(workload: str, specs: list) -> dict:
    return {n: 0 for n, _ in specs if n.startswith(_ABSENT[workload])}


def _documents_rows() -> int:
    import pyarrow.parquet as pq

    import battery

    return pq.ParquetFile(battery.DATA / "documents.parquet").metadata.num_rows


def _print_human(args, record: dict, specs: list) -> None:
    m = record["metrics"]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"box={json.dumps(record['box'])}")
    for name, unit in specs:
        print(f"{name:52s} {m[name]:14.6g} {unit}")


# -- supervisor --------------------------------------------------------------

_CHILD_ENV = "E2EBENCH_CHILD"
PR_SET_CHILD_SUBREAPER = 36
# after the run ends: how long leftovers get to exit on their own, then
# after SIGTERM, before SIGKILL
_GRACE_S = 2.0
_TERM_S = 5.0


def _children() -> list:
    """PIDs whose parent is this process, from /proc."""
    me = os.getpid()
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def _reap_all() -> None:
    """Wait until this process has no child left. Orphans of the run are
    reparented here (subreaper), so this also ends grandchildren."""
    t0 = time.monotonic()
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        late = time.monotonic() - t0 - _GRACE_S
        if late > 0:
            sig = signal.SIGTERM if late < _TERM_S else signal.SIGKILL
            for c in _children():
                try:
                    os.kill(c, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def supervise(argv: list) -> int:
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1)
    except (OSError, AttributeError):
        pass  # no subreaper: the direct child is still waited for
    env = dict(os.environ, **{_CHILD_ENV: "1"})
    child = subprocess.Popen([sys.executable, __file__, *argv], env=env)

    def forward(signum, _frame):
        child.send_signal(signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, forward)
    try:
        rc = child.wait()
    finally:
        if child.poll() is None:
            child.kill()
        _reap_all()
    return rc


if __name__ == "__main__":
    if os.environ.get(_CHILD_ENV) != "1":
        sys.exit(supervise(sys.argv[1:]))
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result
        traceback.print_exc()
        sys.exit(1)
