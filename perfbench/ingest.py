"""``ingest_stream``: the composed streaming flagship, closed loop.

Set-up builds the stored LSH and IVF indexes over a seeded corpus, once
and cold. The measured phase runs ``streaming_ingest_etl`` over a
paginated source with one client: the next page is appended to the feed
only after the previous micro-batch committed. Every fold cadence is on
(state, dedup and ann folds with prune and vacuum; every ann fold is a
centroid rebuild) at batch ids 2, 4, ...: batches 0 and 1 are steady,
batch 2 pays every fold over batches 0-1. Batch 1 updates batch-0 docs,
so that fold has superseded vectors to reclaim; batch 2 reverts some of
the updates. A micro-batch costs 10-20 s on 4 cores, so three is what
the run budget holds.

Checks, one per fed row plus two whole-output ones:

- every fed row lands in exactly the disposition its kind calls for:
  re-feeds skipped, planted near-dups flagged, the rest clean;
- the stream's output for first-seen docs equals ``batch_ingest_etl``
  (flagged ids, clean ids, chunk vec_ids);
- the latest folded ann version holds exactly the corpus vectors plus
  each stream doc's live vectors as of the fold: the vectors of the
  versions batch 1 superseded are gone, none is duplicated.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from perfbench import data
from perfbench.common import clear_memos, geomean, tree_cpu_s

STREAM_SPAN = "streaming.ingest_pipeline"  # the whole measured stream
BATCH_SPAN = "streaming.ingest_pipeline.batch"
FOLD_SPAN = "streaming.ingest_pipeline.fold_batch"
MIN_BATCHES = 3  # a run streams at least this many pages
FOLD_EVERY = 2  # every cadence folds at batch ids k * FOLD_EVERY
IVF_SPAN = "operators.similarity.build_ivf"


@dataclass(frozen=True)
class Params:
    corpus: int  # stored-index corpus docs
    page: int  # feed rows per page = per micro-batch
    sample_mod: int  # IVF centroids are the vectors with vec_id % sample_mod == 0


PARAMS = {
    "full": Params(corpus=400, page=100, sample_mod=31),
    "smoke": Params(corpus=120, page=10, sample_mod=5),
}


def build_indexes(spark, tracer, corpus_pdf: pd.DataFrame, root: str, sample_mod: int) -> tuple[str, str, str]:
    """Stage the corpus and build its stored LSH and IVF indexes; the IVF
    build (chunk, embed, centroids, assignment, write) is a span."""
    from notion_vector_store_etl_pipeline_spark.operators import dedup as D
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        quantize_and_assign,
        refresh_centroids,
        write_ivf_index,
    )
    from notion_vector_store_etl_pipeline_spark.streaming.ingest_pipeline import embedded_chunks

    os.makedirs(root, exist_ok=True)
    corpus_path = f"{root}/corpus.parquet"
    corpus_pdf.to_parquet(corpus_path, index=False)
    corpus = spark.read.parquet(corpus_path)
    lsh_path = f"{root}/lsh"
    D.write_lsh_index(D.build_lsh_index(corpus.select("doc_id", "text")), lsh_path)
    ivf_path = f"{root}/ivf"
    with tracer.span(IVF_SPAN):
        chunks = embedded_chunks(corpus).select("vec_id", "emb")
        c_ids, c_mat = refresh_centroids(chunks, sample_mod=sample_mod)
        write_ivf_index(
            spark,
            quantize_and_assign(chunks, c_ids, c_mat, topn=1, id_col="vec_id", emb_col="emb"),
            c_ids,
            c_mat,
            ivf_path,
        )
    return corpus_path, lsh_path, ivf_path


def _tree_files(root: str) -> list[tuple[int, int]]:
    """(mtime_ns, size) of every file under ``root``."""
    out = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except OSError:
                continue
            out.append((st.st_mtime_ns, st.st_size))
    return out


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def run(spark, tracer, seed: int, seconds: int, work: str, scale: str) -> dict:
    from notion_vector_store_etl_pipeline_spark.streaming.ingest_pipeline import (
        streaming_ingest_etl,
    )

    p = PARAMS[scale]
    rng = np.random.default_rng(seed)
    corpus_pdf = data.documents(rng, p.corpus)[["doc_id", "text", "source"]]

    clear_memos(spark)
    t = time.perf_counter()
    corpus_path, lsh_path, ivf_path = build_indexes(spark, tracer, corpus_pdf, f"{work}/setup", p.sample_mod)
    setup_s = time.perf_counter() - t
    clear_memos(spark)

    gen = data.FeedGenerator(np.random.default_rng([seed, 1]), corpus_pdf, p.page)
    src, out, ckpt = f"{work}/feed.parquet", f"{work}/out", f"{work}/ckpt"
    pages: list[data.FeedPage] = []
    written: list[tuple[int, int]] = []  # statefs (files, bytes) per batch, traced runs

    def append_page() -> None:
        pages.append(gen.page())
        pd.concat([pg.rows for pg in pages]).to_parquet(src + ".tmp", index=False)
        os.replace(src + ".tmp", src)

    with tracer.span(STREAM_SPAN, jobs=False):
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        append_page()
        query = streaming_ingest_etl(
            spark, src, corpus_path, lsh_path, ivf_path, out, ckpt,
            page_size=p.page, pages_per_batch=1,
            compact_state_every=FOLD_EVERY, prune_state=True, vacuum_events=True,
            update_index=True,
            compact_dedup_every=FOLD_EVERY, compact_dedup_prune=True, compact_dedup_retain=2,
            compact_ann_every=FOLD_EVERY, compact_ann_prune=True, compact_ann_retain=2,
            rebuild_ann_every=1, rebuild_sample_mod=p.sample_mod,
        )
        try:
            while True:
                t_batch = time.time_ns()
                query.processAllAvailable()
                if tracer.enabled:
                    t = time.perf_counter()
                    new = [sz for mt, sz in _tree_files(out) if mt >= t_batch]
                    written.append((len(new), sum(new)))
                    tracer.overhead_s += time.perf_counter() - t
                if len(pages) >= MIN_BATCHES and time.perf_counter() - t0 >= seconds:
                    break
                append_page()
            wall_s, cpu_s = time.perf_counter() - t0, tree_cpu_s() - cpu0
            progress = {
                int(pr.batchId): pr for pr in query.recentProgress if (pr.numInputRows or 0) > 0
            }
        finally:
            query.stop()

    n = len(pages)
    if sorted(progress) != list(range(n)):
        raise RuntimeError(f"expected progress for batches 0..{n - 1}, got {sorted(progress)}")
    is_fold = {b: b > 0 and b % FOLD_EVERY == 0 for b in range(n)}
    trig = {b: progress[b].durationMs["triggerExecution"] / 1000.0 for b in range(n)}
    for b in range(n):
        start = _epoch(progress[b].timestamp)
        tracer.add_batch(
            FOLD_SPAN if is_fold[b] else BATCH_SPAN,
            start, start + trig[b], str(progress[b].runId), b, STREAM_SPAN,
        )

    tracer.attribute()

    stored = sum(sz for _, sz in _tree_files(out))
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "op_geomean_s": geomean(list(trig.values())),
        "cpu_s": cpu_s,
        "stored_bytes_per_input_byte": stored / os.path.getsize(src),
    }
    layers = _layers(tracer, progress, written)
    t = time.perf_counter()
    checks = _check(spark, pages, corpus_path, lsh_path, ivf_path, out)
    check_s = time.perf_counter() - t
    return {
        "e2e": e2e,
        "layers": layers,
        "checks": checks,
        "samples": {
            "setup_s": setup_s,
            "batch_s": [trig[b] for b in range(n)],
            "fold": [b for b in range(n) if is_fold[b]],
            "check_s": check_s,
        },
    }


def _layers(tracer, progress: dict, written: list[tuple[int, int]]) -> dict:
    from perfbench.spans import SPAN_COUNTERS

    def dur(key: str) -> float:
        return statistics.median(
            sum(pr.durationMs.get(k, 0) for k in key.split("+")) / 1000.0
            for pr in progress.values()
        )

    layers = {
        "sources.paginated.offsets_s": dur("latestOffset+getBatch"),
        "streaming.checkpoint_s": dur("walCommit+commitOffsets"),
        "streaming.query_planning_s": dur("queryPlanning"),
        "operators.statefs.files_per_batch": statistics.fmean(f for f, _ in written) if written else 0.0,
        "operators.statefs.bytes_per_batch": statistics.fmean(b for _, b in written) if written else 0.0,
    }
    for name in (BATCH_SPAN, FOLD_SPAN, IVF_SPAN):
        spans = [s for s in tracer.spans if s.name == name and s.counters]
        for c in SPAN_COUNTERS:
            layers[f"{name}.{c}"] = statistics.median(s.counters[c] for s in spans) if spans else 0.0
    return layers


def _live_vec_ids(chunks: pd.DataFrame, through: int) -> set[int]:
    """Vectors of each stream doc's newest processed version among
    batches <= ``through``."""
    c = chunks[chunks.batch_id <= through]
    latest = c.groupby("doc_id").batch_id.transform("max")
    return set(c[c.batch_id == latest].vec_id.tolist())


def _read(path: str, cols: list[str]) -> pd.DataFrame:
    """Columns of a (hive-partitioned) parquet tree; empty if absent."""
    if not os.path.isdir(path):
        return pd.DataFrame(columns=cols)
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols).to_pandas()


def _check(spark, pages, corpus_path, lsh_path, ivf_path, out) -> dict[str, bool]:
    from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
        read_compaction_manifest,
    )
    from notion_vector_store_etl_pipeline_spark.streaming.ingest_pipeline import (
        batch_ingest_etl,
    )

    clean = _read(f"{out}/clean", ["doc_id", "batch_id"])
    flagged = _read(f"{out}/flagged", ["batch_id", "ingest_batch"])
    chunks = _read(f"{out}/chunks", ["vec_id", "doc_id", "batch_id"])
    clean_at = set(zip(clean.doc_id, clean.batch_id))
    flagged_at = set(zip(flagged.batch_id, flagged.ingest_batch))

    checks: dict[str, bool] = {}
    want = {"refeed": "skipped", "neardup": "flagged"}
    for b, pg in enumerate(pages):
        for d, kind in pg.expect.items():
            got = [k for k, hit in (("clean", (d, b) in clean_at), ("flagged", (d, b) in flagged_at)) if hit]
            checks[f"row:{b}:{d}"] = (got or ["skipped"]) == [want.get(kind, "clean")]

    # first-seen docs against the one-pass twin
    first_batch = {
        d: b for b, pg in enumerate(pages) for d, k in pg.expect.items() if k in ("new", "neardup")
    }
    first = pd.concat([pg.rows for pg in pages])
    first = first[[first_batch.get(d) == b for b, pg in enumerate(pages) for d in pg.rows.doc_id]]
    t_flag, t_clean, t_chunks, _ = batch_ingest_etl(
        spark, spark.createDataFrame(first), corpus_path, lsh_path, ivf_path, intra_batch=True
    )
    s_vecs = {v for v, d, b in zip(chunks.vec_id, chunks.doc_id, chunks.batch_id) if first_batch.get(d) == b}
    checks["twin_equal"] = (
        {r[0] for r in t_flag.select("batch_id").collect()}
        == {d for d, b in flagged_at if first_batch.get(d) == b}
        and {r[0] for r in t_clean.select("doc_id").collect()}
        == {d for d, b in clean_at if first_batch.get(d) == b}
        and {r[0] for r in t_chunks.select("vec_id").collect()} == s_vecs
    )

    # the base index built at set-up holds exactly the corpus vectors
    corpus_vecs = set(_read(f"{ivf_path}/vectors", ["vec_id"]).vec_id)
    man = read_compaction_manifest(f"{out}/ann", spark)
    folded = _read(f"{man['index_path']}/vectors", ["vec_id"]).vec_id if man else None
    checks["fold_no_stale"] = (
        folded is not None
        and folded.is_unique
        and set(folded) == corpus_vecs | _live_vec_ids(chunks, man["through_batch"])
    )
    return checks
