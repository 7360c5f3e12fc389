"""The ``battery`` workload: one op is one query of a fixed subset of
``queries.QUERIES`` over the vendored sf0.01 tables, collected on the
driver and compared, outside the timer, with its DuckDB twin exactly as
``tools/check_oracles.py`` compares them.

The subset covers all seven family modules and the materialization-
heavy leaves. It leaves out ``dedup_keep_list``, whose DuckDB twin runs
for minutes. A run covers whole passes over the subset; the seed fixes
the query order.
"""

import contextlib
import hashlib
import pickle
import random
import sys
import time
import types

import inputs
from spans import maybe, patched

HEAVY_LEAVES = ("corpus_prep_funnel", "ivf_topk", "exact_substring_cut",
                "minhash_lsh_pairs")
SUBSET = HEAVY_LEAVES + ("token_count", "token_stats", "dedup_doc_lines",
                         "weighted_doc_sample")
FAMILIES = ("q_textpipe", "q_neardup", "q_textstats", "q_temporal",
            "q_corpus", "q_embed", "q_weblinks")
DATA = inputs.BATTERY_DATA


def _check_oracles():
    tools = str(inputs.REPO / "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_oracles

    return check_oracles


def ensure_oracles(cache=inputs.CACHE) -> dict:
    """query -> (columns, type names, rows) of its DuckDB twin, cached
    by the twin SQL and the bytes of the tables."""
    import duckdb

    from zzzarchived_arxiv_fulltext_spark.queries import ORACLES

    h = hashlib.sha256()
    for q in SUBSET:
        h.update(q.encode() + ORACLES[q].encode())
    tables = sorted(DATA.glob("*.parquet"))
    for p in tables:
        h.update(p.name.encode() + p.read_bytes())
    path = cache / f"battery-{h.hexdigest()[:16]}.pkl"
    if path.exists():
        with open(path, "rb") as f:
            return pickle.load(f)
    con = duckdb.connect()
    try:
        for p in tables:
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM "
                        f"read_parquet('{p}')")
        out = {}
        for q in SUBSET:
            rel = con.sql(ORACLES[q])
            out[q] = (list(rel.columns), [str(t) for t in rel.types],
                      rel.fetchall())
    finally:
        con.close()
    cache.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    with open(tmp, "wb") as f:
        pickle.dump(out, f)
    tmp.replace(path)
    return out


def query_order(seed: int) -> list:
    order = list(SUBSET)
    random.Random(f"battery/{seed}").shuffle(order)
    return order


class Battery:
    name = "battery"

    def __init__(self, seed: int, oracles: dict):
        self.order = query_order(seed)
        self.oracles = oracles
        self.compare = _check_oracles().compare

    def bind(self, spark):
        from zzzarchived_arxiv_fulltext_spark.queries import QUERIES

        self.spark = spark
        self.df_class = type(spark.range(0))
        self.fns = {q: QUERIES[q] for q in self.order}
        self.family = {q: QUERIES[q].__module__.rsplit(".", 1)[-1]
                       for q in self.order}

    def op(self, query: str, tracer=None, status=None) -> dict:
        family = self.family[query]
        targets = [(self.df_class, "localCheckpoint", "queries.materialize",
                    None)]
        wrap = patched(tracer, targets) if tracer else contextlib.nullcontext()
        with maybe(tracer, f"queries.{family}", query=query) as span, wrap:
            t0 = time.perf_counter()
            df = self.fns[query](self.spark, str(DATA))
            with maybe(tracer, "queries.collect"):
                rows = df.collect()
            wall = time.perf_counter() - t0
        cols, type_names, duck_rows = self.oracles[query]
        shim = types.SimpleNamespace(columns=df.columns, schema=df.schema,
                                     collect=lambda: rows)
        err = self.compare(query, shim, duck_rows, cols, type_names)
        rec = {"query": query, "family": family, "wall_s": wall,
               "error": err}
        if tracer:
            tree = tracer.subtree(span["id"])
            selfs = tracer.self_times(span["id"])
            mats = [s for s in tree if s["name"] == "queries.materialize"]
            rec["materializations"] = len(mats)
            rec["materialize_s"] = sum(selfs[s["id"]] for s in mats)
            rec["groups"] = [tracer.group(s["id"]) for s in tree]
        return rec
