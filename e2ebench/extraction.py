"""The ``extract_mixed`` workload: one op is one ``run_extraction`` call
that extracts a fixed seeded slice of the fixture mix into an empty
``SnapshotTable``.

Every op's committed snapshot is read back with pyarrow (no Spark job)
and each document is compared to the pure-Python oracle digest.
"""

import contextlib
import os
import shutil
import statistics
import time
from pathlib import Path

import pyarrow.parquet as pq

import inputs
from spans import maybe, patched

_DIGEST_COLS = ["doc_id", "spans", "status", "via", "plain_text", "psv_text"]


class StateDrift(RuntimeError):
    """An op's tables were not empty at its start."""


def _dir_bytes(path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*")
               if f.is_file() and not f.name.startswith((".", "_")))


def check_snapshot(table, snap_id, oracle: dict, expected: set) -> int:
    """Wrong docs in one committed snapshot: missing, duplicated,
    unexpected, or differing from the oracle digest."""
    if snap_id is None:
        return len(expected)
    rows = pq.ParquetDataset(table.snapshot_dir(snap_id)).read(
        columns=_DIGEST_COLS).to_pylist()
    seen: dict = {}
    wrong = 0
    for r in rows:
        d = r["doc_id"]
        seen[d] = seen.get(d, 0) + 1
        if d not in expected or inputs.doc_digest(
                r["spans"], r["status"], r["via"], r["plain_text"],
                r["psv_text"]) != oracle[d]:
            wrong += 1
    wrong += sum(n - 1 for n in seen.values() if n > 1)
    wrong += len(expected - seen.keys())
    return wrong


def _targets(extraction_job, tables_mod, df_class, output_path: str):
    def role(self, *a, **kw):
        return {"role": "output" if self.path == output_path else "lineage"}

    st = tables_mod.SnapshotTable
    return [
        (extraction_job, "_heal_lineage",
         "plans.extraction_job.heal_lineage", None),
        (extraction_job, "pending_documents",
         "plans.extraction_job.pending_documents", None),
        (df_class, "isEmpty", "plans.extraction_job.pending_check", None),
        (extraction_job, "extract_documents",
         "operators.span_extract.extract_documents", None),
        (extraction_job, "_lineage_from_snapshot",
         "plans.extraction_job.lineage", None),
        (st, "append", "sources.tables.append", role),
        (st, "read", "sources.tables.read", None),
        (st, "read_snapshot", "sources.tables.read", None),
    ]


# span name -> per-layer metric its self time counts toward
_SPAN_LAYER = {
    "plans.extraction_job.heal_lineage": "plans.extraction_job.lineage_s",
    "plans.extraction_job.lineage": "plans.extraction_job.lineage_s",
    "plans.extraction_job.pending_documents":
        "plans.extraction_job.pending_documents_s",
    "plans.extraction_job.pending_check":
        "plans.extraction_job.pending_documents_s",
    "operators.span_extract.extract_documents":
        "operators.span_extract.plan_s",
    "sources.tables.read": "sources.tables.read_s",
}


def _layer(span: dict) -> str:
    if span["name"] == "sources.tables.append":
        return ("sources.tables.append_s" if span["role"] == "output"
                else "plans.extraction_job.lineage_s")
    return _SPAN_LAYER[span["name"]]


class ExtractMixed:
    name = "extract_mixed"

    def __init__(self, input_dir: Path, work: Path):
        self.input_dir = input_dir
        self.work = work
        self.oracle = inputs.load_oracle(input_dir)
        self.n_ops = 0

    # -- engine imports happen after the session exists --------------------
    def bind(self, spark):
        from zzzarchived_arxiv_fulltext_spark.plans import extraction_job
        from zzzarchived_arxiv_fulltext_spark.sources import tables

        self.spark = spark
        self.df_class = type(spark.range(0))
        self.job = extraction_job
        self.tables = tables
        self.input_path = str(self.input_dir / "input.parquet")
        self.input_bytes = os.path.getsize(self.input_path)
        self.expected = set(self.oracle)

    def _next_op_dir(self) -> Path:
        """Drops the previous op's tables and names the next op's dir."""
        if self.n_ops:
            shutil.rmtree(self.work / f"op{self.n_ops - 1}",
                          ignore_errors=True)
        self.n_ops += 1
        return self.work / f"op{self.n_ops - 1}"

    def reset(self):
        op_dir = self._next_op_dir()
        out = self.tables.SnapshotTable(str(op_dir / "out"))
        lin = self.tables.SnapshotTable(str(op_dir / "lineage"))
        if out.snapshots() or lin.snapshots():
            raise StateDrift(f"op tables at {out.path} are not empty")
        return out, lin

    def op(self, tracer=None, status=None) -> dict:
        """One timed op + its correctness check; returns the op record."""
        out, lin = self.reset()
        wrap = (patched(tracer, _targets(self.job, self.tables,
                                         self.df_class, out.path))
                if tracer else contextlib.nullcontext([]))
        with maybe(tracer, "op", workload=self.name) as span, wrap as missing:
            t0 = time.perf_counter()
            snap = self._run(out, lin)
            wall = time.perf_counter() - t0
        wrong = check_snapshot(out, snap, self.oracle, self.expected)
        wrong += self._check_lineage(lin)
        rec = {"wall_s": wall, "wrong_docs": wrong}
        if tracer:
            rec["layers"] = self._layers(tracer, span["id"])
            rec["missing_spans"] = missing
            rec["spark"] = status.metrics(
                {tracer.group(s["id"]) for s in tracer.subtree(span["id"])})
            rec["layers"]["sources.tables.bytes_written_per_input_byte"] = (
                _dir_bytes(out.snapshot_dir(snap)) / self.input_bytes
                if snap else 0.0)
            rec["layers"]["sources.tables.snapshots"] = len(out.snapshots())
        self.last_tables = (out, lin)
        return rec

    def _run(self, out, lin):
        df = self.spark.read.parquet(self.input_path)
        return self.job.run_extraction(self.spark, df, out, lineage_table=lin)

    def _layers(self, tracer, root: int) -> dict:
        selfs = tracer.self_times(root)
        acc = {m: 0.0 for m in set(_SPAN_LAYER.values())
               | {"sources.tables.append_s"}}
        for s in tracer.subtree(root)[1:]:
            acc[_layer(s)] += selfs[s["id"]]
        root_span = tracer.spans[root]
        acc["trace.unattributed_frac"] = selfs[root] / (
            root_span["end"] - root_span["start"])
        return acc

    def _check_lineage(self, lin) -> int:
        """Lineage must hold one row set per output snapshot and count
        every committed doc once; returns 1 when it does not."""
        counted = sum(
            sum(pq.ParquetDataset(lin.snapshot_dir(i)).read(
                columns=["n_docs"]).column("n_docs").to_pylist())
            for i in lin.snapshot_ids())
        return 0 if counted == len(self.expected) else 1

    # -- probes of single layers, traced run only ----------------------------
    def probes(self, tracer, reps: int = 3) -> dict:
        from zzzarchived_arxiv_fulltext_spark.operators.span_extract import (
            extract_documents,
        )

        spark, job = self.spark, self.job
        out, _ = self.last_tables
        pending = spark.read.parquet(self.input_path)
        doc_id = sorted(self.expected)[0]

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        calls = {
            "sources.scan_s": lambda: noop(
                spark.read.parquet(self.input_path)),
            "operators.span_extract.extract_s": lambda: noop(
                extract_documents(pending)),
            "operators.span_extract.extract_no_psv_s": lambda: noop(
                extract_documents(pending, compute_psv=False)),
            "plans.extraction_job.read_extracted_s": lambda: noop(
                job.read_extracted(spark, out)),
            "plans.extraction_job.get_document_s": lambda: job.get_document(
                spark, out, doc_id),
        }
        res = {}
        for name, call in calls.items():
            times = []
            for _ in range(reps):
                with tracer.span(name):
                    t0 = time.perf_counter()
                    got = call()
                    times.append(time.perf_counter() - t0)
            res[name] = statistics.median(times)
            if name.endswith("get_document_s"):
                ok = got is not None and inputs.doc_digest(
                    got["spans"], got["status"], got["via"],
                    got["plain_text"], got["psv_text"]) == self.oracle[doc_id]
                res["_get_document_ok"] = ok
        fresh, _ = self.reset()
        with tracer.span("plans.extraction_job.pending_count"):
            n = job.pending_documents(spark.read.parquet(self.input_path),
                                      fresh, spark).count()
        res["plans.extraction_job.pending_docs"] = n
        res["_pending_ok"] = n == len(self.expected)
        return res

    def op_docs(self) -> list:
        """The op's own docs, for the serial per-function timings."""
        rows = pq.read_table(self.input_path).to_pylist()
        return [(r["doc_id"], r["spans"]) for r in rows]


def function_timings(docs: list) -> dict:
    """Serial per-doc cost of each ``functions`` entry point over the
    op's own docs, and how often the gate sends docs down each path."""
    import re

    from zzzarchived_arxiv_fulltext_spark import functions as fx
    from zzzarchived_arxiv_fulltext_spark.functions.psv import (
        recover_accents,
    )

    parts = []
    for _, spans in docs:
        ordered = sorted(spans, key=lambda s: s["offset"])
        parts.append([s["text"] or "" for s in ordered if s["kind"] == "text"])
    t = {}

    def timed(name, fn, args):
        t0 = time.perf_counter()
        out = [fn(a) for a in args]
        t[name] = time.perf_counter() - t0
        return out

    primary = timed("fix_unicode",
                    lambda ps: [fx.fix_unicode(p) for p in ps], parts)
    timed("strip_layout_junk",
          lambda ps: [fx.strip_layout_junk(p) for p in ps], parts)
    timed("average_word_length", fx.average_word_length,
          ["\n".join(ps) for ps in primary])
    results = timed("extract_document", fx.extract_document,
                    [spans for _, spans in docs])
    plains = [r["plain_text"] for r in results if r["plain_text"] is not None]
    timed("normalize_text_psv", fx.normalize_text_psv, plains)
    # the line split normalize_text_psv feeds to tidy_lines
    splits = [fx.split_on_references(
        [piece + "\n" for piece in re.split(r"[\x0a-\x0d]+",
                                            recover_accents(p))])
        for p in plains]
    timed("tidy_lines", lambda br: (fx.tidy_lines(br[0]),
                                    fx.tidy_lines(br[1])), splits)
    n = len(docs)
    out = {f"functions.{k}_us_per_doc": v * 1e6 / n for k, v in t.items()}
    retried = [r for r in results if r["via"] != "primary"]
    out["functions.layout_retry_frac"] = len(retried) / n
    out["functions.retry_success_ratio"] = (
        sum(r["via"] == "layout_retry" for r in retried) / len(retried)
        if retried else 0.0)
    out["functions.gate_fail_frac"] = sum(
        r["status"] == "failed" for r in results) / n
    return out
