"""Seeded benchmark inputs and their pure-Python oracle digests.

Every input is a pure function of (workload, seed, size) and is written
as parquet before any Spark session exists; the engine only ever sees
the parquet. Generation and the oracle digests are cached under
``e2ebench/.cache/``; the cache key carries a hash of the generator
sources (this file, the engine's fixture generator and the pure
``functions`` package that computes the digests), so an edited
generator never reuses stale inputs.
"""

import hashlib
import json
import multiprocessing
import os
import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
CACHE = HERE / ".cache"
BATTERY_DATA = HERE / "data" / "sf0.01"

# extract_mixed: a seeded window of regular fixture docs (every fixture
# class but the giants) plus the same two ~0.5M-char giants in every
# slice, at fixed rows. The giants are the stragglers; their sizes vary
# 0.4M-3M chars across the fixture, so letting the seed pick them would
# make the per-seed work differ by more than the run-to-run noise.
FIXTURE_BLOCK = 997
MIXED_REGULAR = 2 * FIXTURE_BLOCK - 2
MIXED_GIANTS = (7, 7 + FIXTURE_BLOCK)  # the fixture's first two giants
# fixed warm-up input for set-up (the same on every run)
WARMUP_DOCS = 64
ROW_GROUP = 128

_INPUT_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", pa.list_(pa.struct([
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), nullable=False),
    ])), nullable=False),
])


def _generator_sources():
    pkg = REPO / "zzzarchived_arxiv_fulltext_spark"
    yield Path(__file__).resolve()
    yield pkg / "sources" / "fixtures.py"
    yield from sorted((pkg / "functions").glob("*.py"))


def generator_hash() -> str:
    h = hashlib.sha256()
    for p in _generator_sources():
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


# -- documents ---------------------------------------------------------------

def mixed_indices(seed: int) -> list:
    """Fixture doc indices of the extract_mixed slice for ``seed``, in
    file order: giant, first half, giant, second half."""
    rng = random.Random(f"extract_mixed/{seed}")
    start = FIXTURE_BLOCK * rng.randrange(2, 1000)
    regular = [i for i in range(start, start + MIXED_REGULAR + 2)
               if i % FIXTURE_BLOCK != 7][:MIXED_REGULAR]
    half = len(regular) // 2
    return ([MIXED_GIANTS[0]] + regular[:half]
            + [MIXED_GIANTS[1]] + regular[half:])


# -- oracle digests ----------------------------------------------------------

def doc_digest(spans, status, via, plain_text, psv_text) -> str:
    """Digest of one extracted document: the ordered (kind, text,
    media_ref, order) span tuples, status, via, plain_text, psv_text."""
    payload = [
        [[s["kind"], s["text"], s["media_ref"], s["order"]] for s in spans],
        status, via, plain_text, psv_text,
    ]
    return hashlib.sha256(
        json.dumps(payload, ensure_ascii=False).encode()).hexdigest()


def _oracle_digest(doc: tuple) -> tuple:
    from zzzarchived_arxiv_fulltext_spark.functions import extract_document

    doc_id, spans = doc
    r = extract_document(spans)
    return doc_id, doc_digest(r["spans"], r["status"], r["via"],
                              r["plain_text"], r["psv_text"])


def _pool_map(fn, items, procs: int) -> list:
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs, initializer=_worker_init,
                  initargs=(str(REPO),)) as pool:
        out = pool.map(fn, items, chunksize=max(1, len(items) // (8 * procs)))
        pool.close()
        pool.join()
    return out


def _worker_init(repo: str) -> None:
    import sys

    if repo not in sys.path:
        sys.path.insert(0, repo)


# -- parquet -----------------------------------------------------------------

def write_docs(path: Path, docs: list) -> None:
    table = pa.Table.from_pylist(
        [{"doc_id": d, "spans": s} for d, s in docs], schema=_INPUT_SCHEMA)
    pq.write_table(table, path, row_group_size=ROW_GROUP)


def _build(workload: str, seed: int, out: Path, procs: int) -> None:
    from zzzarchived_arxiv_fulltext_spark.sources.fixtures import make_doc

    if workload == "extract_mixed":
        docs = [make_doc(i) for i in mixed_indices(seed)]
        write_docs(out / "input.parquet", docs)
        oracle = dict(_pool_map(_oracle_digest, docs, procs))
    elif workload == "warmup":
        write_docs(out / "input.parquet",
                   [make_doc(i) for i in range(WARMUP_DOCS)])
        oracle = {}
    else:
        raise ValueError(f"no generated input for workload {workload!r}")
    (out / "oracle.json").write_text(json.dumps(oracle, sort_keys=True))


def ensure(workload: str, seed: int, procs: int, cache: Path = CACHE) -> Path:
    """Cached input dir for (workload, seed, size); built if missing."""
    size = {"extract_mixed": MIXED_REGULAR + len(MIXED_GIANTS),
            "warmup": WARMUP_DOCS}[workload]
    out = cache / f"{workload}-s{seed}-n{size}-{generator_hash()}"
    if (out / "oracle.json").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    _build(workload, seed, tmp, procs)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def load_oracle(input_dir: Path) -> dict:
    return json.loads((input_dir / "oracle.json").read_text())
