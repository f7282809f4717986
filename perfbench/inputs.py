"""Seeded benchmark inputs: the pages corpus (from `fixtures.gen_pages`)
and a documents/embeddings corpus with the schema the `textops`/`similarity`
ops expect. Everything is a pure function of the seed."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from fixtures import gen_pages

PAGES_SF = 0.002          # 1,000 pages, 2 venues

# The documents and embeddings follow the shared seed-42 sf0.1 test tables
# (5,000 documents, 2,000 embeddings) at half their size, so that a run
# fits the benchmark's time. As measured on those tables:
# - words drawn uniformly from the 30 below; 10 to 99 words a document,
#   uniformly (median 54);
# - 5 % of documents are another document's text plus the word "dup", so
#   a few of them are exact copies of each other;
# - 41 % English, the rest spread evenly over four other languages;
#   sources round-robin over 20;
# - embeddings are unit vectors in 64-d with no cluster structure (each
#   label's mean has norm 0.07, that of the mean of 200 random unit
#   vectors), labels uniform over 10.
N_DOCS = 2500
N_VECS = 1000
DIM = 64
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
MIN_WORDS, MAX_WORDS = 10, 99
DUP_SHARE = 0.05
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
N_LABELS = 10


def n_venues() -> int:
    return gen_pages.n_pages_for_sf(PAGES_SF) // gen_pages.PAGES_PER_VENUE


def make_pages(data_dir: str, seed: int) -> str:
    """Regenerate the seeded pages corpus under data_dir; returns its path."""
    shutil.rmtree(data_dir, ignore_errors=True)
    return gen_pages.ensure_pages(sf=PAGES_SF, seed=seed, root=data_dir)


def make_texts(rng) -> list[str]:
    """N_DOCS texts; DUP_SHARE of them are, in turn, another text + " dup"."""
    vocab = np.array(VOCAB)
    texts = [" ".join(rng.choice(vocab, int(rng.integers(MIN_WORDS, MAX_WORDS + 1))))
             for _ in range(N_DOCS)]
    for i in rng.choice(N_DOCS, int(DUP_SHARE * N_DOCS), replace=False):
        j = int(rng.integers(N_DOCS - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return texts


def make_corpus(data_dir: str, seed: int) -> tuple[str, str]:
    """documents(doc_id, text, lang, source, n_chars) and
    embeddings(vec_id, embedding, label)."""
    shutil.rmtree(data_dir, ignore_errors=True)
    os.makedirs(data_dir)
    rng = np.random.default_rng([seed, 23])
    docs = pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": make_texts(rng),
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
    })
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    docs_path = os.path.join(data_dir, "documents.parquet")
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), docs_path)

    vecs = rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, N_VECS).astype(np.int32)),
    })
    emb_path = os.path.join(data_dir, "embeddings.parquet")
    pq.write_table(emb, emb_path)
    return docs_path, emb_path
