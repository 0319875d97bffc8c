"""``curate_batch``: one-shot corpus curation, six registry jobs run cold.

Set-up stages the seeded tables and reads each back through the
engine's table reader, checking its row count, once and cold. The
measured phase runs each job once, clearing the engine's
caches and memos before each, and writes its result under the run's
output tree; passes repeat until ``--seconds`` have gone by (one pass
at least). The jobs hold the iterative driver loops (components, chain
peel, BFS, PageRank) and the shuffle-heavy dedup.

Checks, one per job and pass: a job's output equals its registry DuckDB
oracle, compared as the oracle parity suite does (sorted columns,
order-insensitive rows, floats to 9 significant digits).
``flagship_pipeline`` has no oracle; its per-language rollup must equal
the skip/process split and chunk counts computed here from the input.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from perfbench import data
from perfbench.common import clear_memos, geomean, tree_cpu_s

# job -> the layer (module) that implements it; spans are "<layer>.<job>"
JOBS = {
    "flagship_pipeline": "pipeline",
    "minhash_neardup_components": "operators.dedup",
    "ngram_jaccard_selfjoin": "operators.dedup",
    "dedup_chain_sequential": "operators.dedup",
    "graph_reachability": "operators.traversal",
    "graph_pagerank": "operators.traversal",
}
SPANS = {job: f"{layer}.{job}" for job, layer in JOBS.items()}


@dataclass(frozen=True)
class Params:
    docs: int
    customers: int
    orders: int


PARAMS = {
    "full": Params(docs=500, customers=300, orders=3000),
    "smoke": Params(docs=120, customers=30, orders=200),
}


def make_tables(seed: int, p: Params) -> dict:
    rng = np.random.default_rng(seed)
    tables = {"documents": data.documents(rng, p.docs), "embeddings": data.embeddings(rng, p.docs)}
    tables.update(data.graph_tables(rng, p.customers, p.orders))
    return tables


def stage(spark, tables: dict, sf_dir: str) -> None:
    """Write the tables and read each back through ``sources.load_table``."""
    from notion_vector_store_etl_pipeline_spark.sources import load_table

    data.write_tables(tables, sf_dir)
    for name, pdf in tables.items():
        n = load_table(spark, sf_dir, name).count()
        if n != len(pdf):
            raise RuntimeError(f"staged {name}: {n} rows read back, {len(pdf)} written")


def frame(spark, job: str, sf_dir: str):
    """The job's result DataFrame, as the registry (or, for the flagship,
    the driver entry point) defines it."""
    if job == "flagship_pipeline":
        import __spark_entry__

        return __spark_entry__.entry_frame(spark, sf_dir)
    from notion_vector_store_etl_pipeline_spark.plans import load_registry

    return load_registry()[job].fn(spark, sf_dir)


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


def run(spark, tracer, seed: int, seconds: int, work: str, scale: str) -> dict:
    p = PARAMS[scale]
    tables = make_tables(seed, p)
    t = time.perf_counter()
    sf_dir = f"{work}/setup"
    stage(spark, tables, sf_dir)
    setup_s = time.perf_counter() - t

    job_s: dict[str, list[float]] = {job: [] for job in JOBS}
    pass_s: list[float] = []
    pass_cpu_s: list[float] = []
    outputs: list[tuple[str, str]] = []  # (job, output dir) per job run
    t0 = time.perf_counter()
    while not pass_s or time.perf_counter() - t0 < seconds:
        t_pass, cpu0 = time.perf_counter(), tree_cpu_s()
        with tracer.span("curate_batch.pass", jobs=False):
            for job in JOBS:
                out = f"{work}/out/pass{len(pass_s)}/{job}"
                clear_memos(spark)
                t = time.perf_counter()
                with tracer.span(SPANS[job]):
                    frame(spark, job, sf_dir).write.parquet(out)
                job_s[job].append(time.perf_counter() - t)
                outputs.append((job, out))
        pass_s.append(time.perf_counter() - t_pass)
        pass_cpu_s.append(tree_cpu_s() - cpu0)
    clear_memos(spark)
    tracer.attribute(skew_for=set(SPANS.values()))

    per_job = [statistics.median(v) for v in job_s.values()]
    wall_s = statistics.median(pass_s)
    input_bytes = _dir_bytes(sf_dir)
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "op_geomean_s": geomean(per_job),
        "cpu_s": statistics.median(pass_cpu_s),
        "stored_bytes_per_input_byte": _dir_bytes(f"{work}/out/pass0") / input_bytes,
    }
    t = time.perf_counter()
    # DuckDB releases the GIL: the oracles run side by side
    with ThreadPoolExecutor(max_workers=len(outputs)) as pool:
        oks = list(pool.map(lambda o: check_output(o[0], o[1], sf_dir, tables), outputs))
    checks = {f"{job}:{i}": ok for i, ((job, _), ok) in enumerate(zip(outputs, oks))}
    check_s = time.perf_counter() - t
    return {
        "e2e": e2e,
        "layers": _layers(tracer),
        "checks": checks,
        "samples": {"setup_s": setup_s, "pass_s": pass_s, "job_s": job_s, "check_s": check_s},
    }


def _layers(tracer) -> dict:
    from perfbench.spans import SPAN_COUNTERS

    layers = {}
    for name in SPANS.values():
        spans = [s for s in tracer.spans if s.name == name and s.counters]
        for c in SPAN_COUNTERS + ("fetch_wait_s", "task_skew"):
            layers[f"{name}.{c}"] = statistics.median(s.counters[c] for s in spans) if spans else 0.0
    return layers


def _norm(v):
    if v is None:
        return "\x00<null>"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return str(v)


def _row_set(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def check_output(job: str, out: str, sf_dir: str, tables: dict) -> bool:
    """True when the job's written output is right."""
    t = pq.read_table(out)
    cols = t.column_names
    rows = [tuple(r[c] for c in cols) for r in t.to_pylist()]
    if job == "flagship_pipeline":
        return _flagship_ok(cols, rows, tables["documents"], tables["embeddings"])
    import duckdb

    from notion_vector_store_etl_pipeline_spark.plans import load_registry

    con = duckdb.connect()
    try:
        for name in tables:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')")
        cur = con.execute(load_registry()[job].oracle)
        o_cols = [d[0] for d in cur.description]
        o_rows = cur.fetchall()
    finally:
        con.close()
    return (
        bool(o_rows)
        and sorted(cols) == sorted(o_cols)
        and _row_set(cols, rows) == _row_set(o_cols, o_rows)
    )


def _flagship_ok(cols, rows, docs, emb) -> bool:
    """The flagship rollup against the incremental plan's rule, computed
    from the input: a doc is skipped iff it has prior state (source
    src0-9), an unchanged ``let`` (doc_id % 11 != 0) and vector ids
    (doc_id % 5 != 0). Every generated doc is under 1,000 characters
    (as in the fixture, at most 100 words of at most 8 letters), shorter
    than the flagship's 1,200-character chunk, so each processed doc has
    exactly one chunk. Chunk ids are content-addressed by (source, text,
    chunk index): exact copies from one source share theirs."""
    in_state = docs.source.str.fullmatch(r"src[0-9]")
    skip = in_state & (docs.doc_id % 11 != 0) & (docs.doc_id % 5 != 0)
    has_vec = docs.doc_id.isin(emb.vec_id)
    want = {}
    for lang, g in docs.assign(skip=skip, has_vec=has_vec).groupby("lang"):
        proc = g[~g.skip]
        want[lang] = {
            "n_docs_processed": len(proc),
            "n_chunks": len(proc),
            "n_chunk_ids": len(proc.drop_duplicates(["source", "text"])),
            "n_vectors": int(proc.has_vec.sum()),
            "n_docs_skipped": int(g.skip.sum()),
        }
    got = {
        r[cols.index("lang")]: {k: r[cols.index(k)] for k in next(iter(want.values()))}
        for r in rows
    }
    return got == want
