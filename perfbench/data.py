"""Seeded input generation for the benchmark workloads.

Everything a run reads is made here from ``--seed``: the same seed
gives byte-identical tables. The program under test only ever sees
the generated files.

The ``documents`` and ``embeddings`` generators are fitted to the
repository's bench-scale fixture (``sf0.1``: 5,000 documents, 2,000
vectors; perfbench/README.md lists the figures and how they were
measured), which the benchmark's checkout does not ship:

- text: 10-100 words (uniform), each drawn uniformly from the same
  30-word vocabulary, so 44-577 characters; unrelated documents share
  a few word 3-shingles (Jaccard up to ~0.15 between short ones);
- 5% of documents are a near-duplicate of an earlier document: its text
  plus the token ``dup``. A near-dup of an n-word text has Jaccard
  (n-2)/(n-1), 0.89 to 0.99, and copies of copies make a~b~c chains;
- 0.16% are an exact copy of an earlier document;
- ``lang`` is ``en`` for 41% and about 15% each of de/es/fr/zh;
  ``source`` is ``src<doc_id % 20>``;
- vectors are random unit vectors in 64 dimensions with a uniform
  label in 0-9 (the fixture's labels carry no geometric cluster), one
  per document for the first 40% of doc ids.

The engine flags a pair at Jaccard >= 0.2 after LSH banding (8 bands of
4 minhashes). A planted near-dup (Jaccard >= 0.89) escapes the banding
with probability (1 - J^4)^8, 4e-4 for the shortest texts and about
1e-5 averaged over the length range.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
WORDS = (10, 100)  # words per text, inclusive
DUP_TOKEN = "dup"
LANGS = {"en": 0.41, "de": 0.14, "es": 0.15, "fr": 0.15, "zh": 0.15}
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
VEC_SHARE = 0.4


def _text(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(VOCAB, size=int(rng.integers(WORDS[0], WORDS[1] + 1))))


def near_copy(text: str) -> str:
    """``text`` as the fixture's near-duplicates are made."""
    return f"{text} {DUP_TOKEN}"


def documents(rng: np.random.Generator, n: int, dups: bool = True) -> pd.DataFrame:
    """``documents`` table (doc_id, text, lang, source, n_chars). With
    ``dups``, near-dups and exact copies of earlier rows at the
    fixture's rates."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random() if dups and i else 1.0
        if r < NEAR_DUP_SHARE:
            texts.append(near_copy(texts[int(rng.integers(i))]))
        elif r < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(i))])
        else:
            texts.append(_text(rng))
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(list(LANGS), size=n, p=list(LANGS.values())),
            "source": [f"src{int(x)}" for x in ids % N_SOURCES],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n_docs: int) -> pd.DataFrame:
    """``embeddings`` table (vec_id, embedding float[64], label): one
    unit vector for each of the first ``VEC_SHARE`` of the doc ids."""
    n = int(n_docs * VEC_SHARE)
    vecs = rng.normal(size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [v.astype(np.float32) for v in vecs],
            "label": rng.integers(0, N_LABELS, n).astype(np.int32),
        }
    )


def graph_tables(rng: np.random.Generator, n_customers: int, n_orders: int) -> dict[str, pd.DataFrame]:
    """The region -> nation -> customer -> order tables the graph
    queries walk."""
    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": [f"R{i}" for i in range(5)]}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"N{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(1, n_customers + 1, dtype=np.int64),
            "c_name": [f"C{i}" for i in range(1, n_customers + 1)],
            "c_nationkey": rng.integers(0, 25, n_customers).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_customers), 2),
            "c_mktsegment": rng.choice(["AUTO", "BUILD", "FURN", "HOUSE", "MACH"], n_customers),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_customers + 1, n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(100, 50000, n_orders), 2),
            "o_orderdate": (
                pd.to_datetime("1995-01-01")
            + pd.to_timedelta(rng.integers(0, 2000, n_orders), unit="D")
            ).astype("datetime64[us]"),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], n_orders),
        }
    )
    return {"region": region, "nation": nation, "customer": customer, "orders": orders}


def write_tables(tables: dict[str, pd.DataFrame], sf_dir: str) -> None:
    """One ``<name>.parquet`` per table — the layout ``sources.load_table``
    reads."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, pdf in tables.items():
        pdf.to_parquet(os.path.join(sf_dir, f"{name}.parquet"), index=False)


@dataclass
class FeedPage:
    """One page of the ingest feed and what the engine must do with
    each row: ``expect`` maps doc_id -> "new" | "update" | "revert" |
    "refeed" | "neardup"."""

    rows: pd.DataFrame
    expect: dict[int, str]


class FeedGenerator:
    """Seeded page-by-page feed for the streaming ingest. After the first
    page, each page holds ~10% updates (new text for a doc sent on an
    earlier page), ~5% reverts (an updated doc returns to its first
    text), one verbatim re-feed (same id, same text: must be skipped)
    and new docs for the rest. New docs are made like the fixture's:
    5% near-dups and 0.16% exact copies of a corpus doc (new id; must be
    flagged), fresh text otherwise. A doc_id occurs at most once per
    page. The benchmark commits each page before generating the next,
    so a page may touch the page just before it."""

    def __init__(self, rng: np.random.Generator, corpus: pd.DataFrame, page_size: int):
        self.rng = rng
        self.corpus_texts = corpus["text"].tolist()
        self.page_size = page_size
        self.next_id = 10_000_000
        self.first_text: dict[int, str] = {}
        self.last_text: dict[int, str] = {}
        self.pages_sent: list[list[int]] = []
        self.updated: set[int] = set()

    def page(self) -> FeedPage:
        rng, n = self.rng, self.page_size
        n_upd = n // 10
        n_rev = max(1, n // 20)
        rows: list[tuple[int, str, str]] = []
        expect: dict[int, str] = {}
        old = [d for p in self.pages_sent for d in p]
        if old:
            for d in rng.choice(old, size=min(n_upd, len(old)), replace=False):
                d = int(d)
                rows.append((d, _text(rng), "feed"))
                expect[d] = "update"
            revertible = sorted(self.updated - set(expect))
            for d in rng.choice(revertible, size=min(n_rev, len(revertible)), replace=False) if revertible else []:
                d = int(d)
                if self.last_text[d] != self.first_text[d]:
                    rows.append((d, self.first_text[d], "feed"))
                    expect[d] = "revert"
            unchanged = [d for d in old if d not in expect]
            if unchanged:
                d = int(rng.choice(unchanged))
                rows.append((d, self.last_text[d], "feed"))
                expect[d] = "refeed"
        while len(rows) < n:
            d = self.next_id
            self.next_id += 1
            r = rng.random()
            if r < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
                src = self.corpus_texts[int(rng.integers(len(self.corpus_texts)))]
                rows.append((d, near_copy(src) if r < NEAR_DUP_SHARE else src, "feed"))
                expect[d] = "neardup"
            else:
                rows.append((d, _text(rng), "feed"))
                expect[d] = "new"
        for d, text, _ in rows:
            kind = expect[d]
            if kind in ("new", "neardup"):
                self.first_text[d] = text
            if kind == "update":
                self.updated.add(d)
            self.last_text[d] = text
        self.pages_sent.append([d for d, _, _ in rows if expect[d] != "neardup"])
        pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
        pdf["doc_id"] = pdf["doc_id"].astype(np.int64)
        return FeedPage(pdf, expect)
