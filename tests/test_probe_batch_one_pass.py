"""``probe_batch`` shingles a micro-batch once and reuses that table for
the signatures, the corpus verify and the intra-batch self-join. This
pins its output to a reference composed from the public operators the
probe used to call one after the other: exact verify of the probe
candidates over the batch-wins universe, then ``minhash_neardup`` over
the corpus survivors resolved first-wins, then the clean docs' buckets
recomputed from their text.

The batch covers the three inputs where sharing the shingle table could
diverge from recomputing it: a template cluster of more than
``DENSE_BUCKET_CAP`` docs in one band bucket (the star + chain path of
the intra self-join), an update whose id is also in the corpus (batch
text wins on both pair sides), and docs under 3 words (no shingles, no
signature).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from notion_vector_store_etl_pipeline_spark.operators import dedup as D
from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import probe_batch

_KW = dict(threshold=0.2, num_hashes=32, bands=8)
_TEMPLATE = [f"w{i}" for i in range(40)]


def _words(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


def _inputs(spark):
    corpus = [
        (1, _words("a", 30)),
        (2, _words("b", 30)),  # updated in the batch below
        (3, _words("c", 30)),
        (4, "x y"),
    ]
    # 64 verbatim copies share every band bucket; the tailed variants
    # push at least one bucket past the cap
    batch = [(100 + i, " ".join(_TEMPLATE)) for i in range(64)]
    batch += [(170 + i, " ".join(_TEMPLATE + [f"t{i}"])) for i in range(6)]
    batch += [
        (2, _words("e", 30)),  # update: corpus id, new text
        (200, _words("a", 30) + " dup"),  # near-dup of corpus doc 1
        (201, _words("b", 30) + " dup"),  # near-dup of doc 2's OLD text only
        (202, _words("e", 30) + " dup"),  # near-dup of doc 2's NEW text
        (203, "two words"),
        (204, "one"),
        (205, _words("f", 25)),
    ]
    schema = "doc_id: long, text: string"
    return (
        spark.createDataFrame(batch, schema),
        spark.createDataFrame(corpus, schema),
    )


def _reference(batch, corpus, index, checkable):
    melted = D.melted_signature_buckets(
        D.minhash_signatures(batch, num_hashes=32, checkable=checkable), 8, 4, checkable
    ).localCheckpoint(eager=True)
    # the template cluster must reach the dense-bucket path
    max_bucket = D.bucket_windows(melted).agg(F.max("_bsize")).first()[0]
    assert max_bucket > D.DENSE_BUCKET_CAP
    cand = D.minhash_probe_candidates(melted, index).filter(F.col("a_id") != F.col("b_id"))
    universe = batch.unionByName(corpus.join(batch.select("doc_id"), "doc_id", "left_anti"))
    flagged = (
        D.jaccard_verify_pairs(universe, cand, threshold=0.2)
        .select(F.col("a_id").alias("batch_id"), F.col("b_id").alias("corpus_id"), "jaccard")
        .localCheckpoint(eager=True)
    )
    survivors = batch.join(
        flagged.select(F.col("batch_id").alias("doc_id")), "doc_id", "left_anti"
    )
    intra = D.sequential_firstwins_pairs(
        D.minhash_neardup(survivors, checkable=checkable, **_KW)
    ).select(F.col("b_id").alias("batch_id"), F.col("a_id").alias("corpus_id"), "jaccard")
    flagged_rows = sorted(map(tuple, flagged.unionByName(intra).collect()))
    flagged_ids = {r[0] for r in flagged_rows}
    clean = batch.filter(~F.col("doc_id").isin(list(flagged_ids)))
    clean_buckets = D.melted_signature_buckets(
        D.minhash_signatures(clean, num_hashes=32, checkable=checkable), 8, 4, checkable
    )
    out = (
        flagged_rows,
        sorted(r.doc_id for r in clean.collect()),
        sorted(map(tuple, clean_buckets.collect())),
    )
    D.release_cache()
    return out


@pytest.mark.parametrize("checkable", [False, True])
def test_probe_batch_matches_operator_reference(spark, checkable):
    batch, corpus = _inputs(spark)
    index = D.build_lsh_index(
        corpus, num_hashes=32, bands=8, checkable=checkable
    ).localCheckpoint(eager=True)
    flagged, clean, clean_mb = probe_batch(
        batch,
        corpus,
        index,
        checkable=checkable,
        intra_batch=True,
        return_clean_buckets=True,
        **_KW,
    )
    got = (
        sorted(map(tuple, flagged.collect())),
        sorted(r.doc_id for r in clean.collect()),
        sorted(map(tuple, clean_mb.collect())),
    )
    want = _reference(batch, corpus, index, checkable)
    assert got == want

    flagged_pairs = {(r[0], r[1]) for r in got[0]}
    assert (200, 1) in flagged_pairs
    # doc 201 resembles doc 2's old text, but the batch replaced it
    assert not any(p[0] == 201 for p in flagged_pairs)
    assert (202, 2) in flagged_pairs
    assert {2, 203, 204, 205, 100} <= set(got[1])
