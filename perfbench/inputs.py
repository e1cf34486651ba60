"""Seeded benchmark inputs.

Every workload's input is a pure function of ``(workload, seed)``:

* ``kg_short`` (and the dedup ladder of its traced run) reads
  word-permuted replicas of the sf0.1 documents table
  (``data/sf0.1_documents.parquet``, a copy of the synthetic corpus the
  repository's gates run on: at most 100 words per document over a
  31-word vocabulary). Replica ``r`` of a seed reorders
  the words of each document by one positional key vector drawn from
  ``(seed, r)``, so vocabulary, lengths and entity surface forms are
  kept, documents that were exact duplicates stay exact duplicates, and
  a different seed gives different texts.
* ``kg_long_zipf`` draws 500-2,000-word documents from a seeded
  vocabulary of ``ZIPF_VOCAB`` pseudo-words with Zipf(``ZIPF_S``) rank
  frequencies, and plants ``GAZ_FULL`` terms at ``PLANT_RATE`` of the
  word positions.

Inputs are written as ``files`` parquet files, at least one per core, so
the scan itself fans out.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SF01_DOCS = os.path.join(HERE, "data", "sf0.1_documents.parquet")

# Input sizes per workload, chosen so that one job runs a few seconds on
# a 4-core host (BENCHMARK.json records them with the host).
N_DOCS = {"kg_short": 600, "kg_long_zipf": 60}

ZIPF_VOCAB = 50_000
ZIPF_S = 1.0
LONG_MIN_WORDS = 500
LONG_MAX_WORDS = 2000
PLANT_RATE = 0.03
REPLICA_ID_STRIDE = 1_000_000

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def _rng(*key: int) -> np.random.Generator:
    return np.random.default_rng(list(key))


def load_sf01() -> pa.Table:
    return pq.read_table(SF01_DOCS)


def permuted_replicas(seed: int, n_docs: int, base: pa.Table | None = None) -> pa.Table:
    """The first ``n_docs`` documents of the seed's permuted replicas of
    sf0.1: (doc_id, text, lang, source, n_chars)."""
    base = base if base is not None else load_sf01()
    ids = base.column("doc_id").to_pylist()
    texts = base.column("text").to_pylist()
    langs = base.column("lang").to_pylist()
    sources = base.column("source").to_pylist()
    n_base = len(texts)
    max_words = max(len(t.split(" ")) for t in texts)
    out_ids, out_texts, out_langs, out_sources = [], [], [], []
    for i in range(n_docs):
        r, b = divmod(i, n_base)
        if b == 0:
            order_key = _rng(seed, r).random(max_words)
        words = texts[b].split(" ")
        perm = np.argsort(order_key[: len(words)], kind="stable")
        out_ids.append(ids[b] + r * REPLICA_ID_STRIDE)
        out_texts.append(" ".join([words[j] for j in perm]))
        out_langs.append(langs[b])
        out_sources.append(sources[b])
    return pa.table(
        {
            "doc_id": pa.array(out_ids, pa.int64()),
            "text": pa.array(out_texts, pa.string()),
            "lang": pa.array(out_langs, pa.string()),
            "source": pa.array(out_sources, pa.string()),
            "n_chars": pa.array([len(t) for t in out_texts], pa.int64()),
        }
    )


def zipf_vocabulary(seed: int, size: int = ZIPF_VOCAB, exclude=()) -> list[str]:
    """``size`` distinct lowercase pseudo-words (3-9 letters), in rank
    order, none of them in ``exclude``."""
    rng = _rng(seed, 0x5A1F)
    banned = set(exclude)
    seen: set[str] = set()
    vocab: list[str] = []
    while len(vocab) < size:
        n = size - len(vocab) + 64
        lengths = rng.integers(3, 10, size=n)
        letters = _LETTERS[rng.integers(0, 26, size=(n, 9))]
        for row, length in zip(letters, lengths):
            w = row[:length].tobytes().decode("ascii")
            if w not in seen and w not in banned:
                seen.add(w)
                vocab.append(w)
                if len(vocab) == size:
                    break
    return vocab


def zipf_long_docs(seed: int, n_docs: int, plant_terms: list[str]) -> pa.Table:
    """(doc_id, text, lang) long documents over a Zipf vocabulary
    with ``plant_terms`` planted at ``PLANT_RATE``."""
    vocab = np.array(zipf_vocabulary(seed, exclude=plant_terms), dtype=object)
    cdf = np.cumsum(1.0 / np.arange(1, ZIPF_VOCAB + 1) ** ZIPF_S)
    cdf /= cdf[-1]
    terms = np.array(sorted(plant_terms), dtype=object)
    rng = _rng(seed, 0x10C)
    texts = []
    for _ in range(n_docs):
        n = int(rng.integers(LONG_MIN_WORDS, LONG_MAX_WORDS + 1))
        ranks = np.minimum(np.searchsorted(cdf, rng.random(n)), ZIPF_VOCAB - 1)
        words = vocab[ranks]
        plant = rng.random(n) < PLANT_RATE
        words[plant] = terms[rng.integers(0, len(terms), size=int(plant.sum()))]
        texts.append(" ".join(words.tolist()))
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n_docs, pa.string()),
        }
    )


def with_url(docs: pa.Table) -> pa.Table:
    """documents plus the ``url`` key the KG job reads pages by."""
    urls = pa.array([str(i) for i in docs.column("doc_id").to_pylist()], pa.string())
    return docs.add_column(1, "url", urls)


def make_input(workload: str, seed: int, plant_terms: list[str]) -> pa.Table:
    n = N_DOCS[workload]
    if workload == "kg_short":
        return with_url(permuted_replicas(seed, n))
    if workload == "kg_long_zipf":
        return with_url(zipf_long_docs(seed, n, plant_terms))
    raise ValueError(f"unknown workload {workload!r}")


def write_files(table: pa.Table, out_dir: str, files: int) -> None:
    """Write ``table`` as ``files`` parquet files of contiguous rows."""
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    for k in range(files):
        lo, hi = k * n // files, (k + 1) * n // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{k:03d}.parquet"))
