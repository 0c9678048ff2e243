"""Seeded inputs for the benchmark: a corpus in the package's ``sf_dir``
layout and the request sequence of each workload.

The corpus is ``documents.parquet`` (doc_id, text, lang, source, n_chars)
and ``embeddings.parquet`` (vec_id, embedding, label) with unit-norm 64-d
float32 embeddings, ``vec_id == doc_id``. Sizes:

* ``N_DOCS`` = 2000 documents, 24 to 56 tokens each (mean 40), drawn from a
  ``VOCAB_SIZE`` = 600 word vocabulary with Zipf(1.1) frequencies, so
  BM25 sees common and rare terms;
* embeddings: 2000 x 64 float32 = 512 KiB of vector payload; documents
  about 0.5 MB of text;
* query_modes: every mode call asks for the top 10 of the first 8
  documents (the modes' own self-retrieval queries);
* ingest_maintain: a base batch of 400 documents, then one batch of 50 per
  timed round (at most 20), and 6 BM25 queries of 3 terms plus 6 IVF-PQ
  query vectors.

Each embedding is a noisy mix of 32 topic directions, so nearest
neighbours are meaningful and scores have no exact ties.

Everything is a pure function of the seed: the same seed gives
byte-identical parquet files and identical request sequences.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 2000
DIM = 64
VOCAB_SIZE = 600
N_TOPICS = 32
LANGS = ("en", "de", "fr", "es")
SOURCES = tuple(f"src{i}" for i in range(8))

def vocabulary() -> list[str]:
    """Fixed vocabulary of pronounceable clinical-looking tokens."""
    cons = "bcdfghklmnprstvz"
    vows = "aeiou"
    words = []
    for i in range(VOCAB_SIZE):
        a, b, c = i % 16, (i // 16) % 5, (i // 80) % 16
        words.append(cons[a] + vows[b] + cons[c] + vows[(a + c) % 5] + "l")
    return words


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a stream never
    shifts another stream's draws."""
    return np.random.default_rng([seed, *stream.encode()])


def make_corpus(seed: int) -> dict:
    """Columns of the documents and embeddings tables."""
    n_docs = N_DOCS
    rng = _rng(seed, "corpus")
    vocab = np.array(vocabulary())
    zipf = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** 1.1
    zipf /= zipf.sum()
    lengths = rng.integers(24, 57, size=n_docs)
    texts = [
        " ".join(vocab[rng.choice(VOCAB_SIZE, size=n, p=zipf)]) for n in lengths
    ]
    topics = rng.standard_normal((N_TOPICS, DIM))
    topic_of = rng.integers(0, N_TOPICS, size=n_docs)
    emb = topics[topic_of] + 0.8 * rng.standard_normal((n_docs, DIM))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), size=n_docs)],
        "source": [SOURCES[i] for i in rng.integers(0, len(SOURCES), size=n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        "embedding": emb.astype("float32"),
        "label": topic_of.astype("int32"),
    }


def write_corpus(corpus: dict, sf_dir: str) -> None:
    """Write the corpus as ``documents.parquet`` and ``embeddings.parquet``
    single files under ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    docs = pa.table(
        {k: corpus[k] for k in ("doc_id", "text", "lang", "source", "n_chars")}
    )
    emb = corpus["embedding"]
    vecs = pa.table(
        {
            "vec_id": corpus["doc_id"],
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.reshape(-1)), emb.shape[1]
            ).cast(pa.list_(pa.float32())),
            "label": corpus["label"],
        }
    )
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(vecs, os.path.join(sf_dir, "embeddings.parquet"))


# ---------------------------------------------------------------- requests

# The (k, n_queries) shape of the mode calls. One shape keeps the cold
# first pass short; it is built once and then served from the plan cache.
MODE_SHAPE = (10, 8)
# Calls per request type in one query_modes round. The cheap types get
# more calls: they cost little wall time and their medians need the
# samples. evaluate_modes (the slowest type) runs in every other round.
MODE_WEIGHTS = {"baseline": 2, "dp": 2, "rag": 1, "fhe": 1}
EVALUATE_EVERY = 2


def modes_sequence(seed: int, rounds: int) -> list[str]:
    """Request types of the timed query_modes phase: ``rounds`` rounds,
    each in a seeded order. The counts depend only on ``rounds``."""
    seq = []
    for r in range(rounds):
        reqs = [kind for kind, w in MODE_WEIGHTS.items() for _ in range(w)]
        if r % EVALUATE_EVERY == 0:
            reqs.append("evaluate")
        random.Random(f"{seed}-modes-{r}").shuffle(reqs)
        seq += reqs
    return seq


INGEST_QUERIES = 6
# ingest_maintain: the base batch the first pass indexes, then one batch
# per timed round. The base is kept small because serve cost grows with
# the index; the rest of the corpus is never ingested.
INGEST_BASE_DOCS = 400
INGEST_BATCH_DOCS = 50
MAX_INGEST_ROUNDS = 20
# The index directories of one ingest; round r compacts INGEST_DIRS[r % 6].
INGEST_DIRS = ("nd_index", "nd_pairs", "bm25/postings", "bm25/df", "bm25/scalars", "pq")


def ingest_queries(seed: int, corpus: dict) -> dict:
    """The query sets served from the maintained indexes in every ingest
    round: BM25 term lists (among the 60 most frequent words) and IVF-PQ
    query vectors (corpus embeddings)."""
    rng = _rng(seed, "ingest-queries")
    vocab = vocabulary()
    terms = [
        [vocab[i] for i in rng.choice(60, size=3, replace=False)]
        for _ in range(INGEST_QUERIES)
    ]
    src = rng.choice(len(corpus["doc_id"]), size=INGEST_QUERIES, replace=False)
    return {
        "terms": terms,
        "query_vec": [corpus["embedding"][d].astype("float64").tolist() for d in src],
    }


def ingest_batches(seed: int, rounds: int) -> list[np.ndarray]:
    """Doc ids of the base batch and of one batch per timed round: a
    seeded permutation of the corpus, cut in order."""
    if not 0 <= rounds <= MAX_INGEST_ROUNDS:
        raise ValueError(f"rounds must be in 0..{MAX_INGEST_ROUNDS}")
    perm = _rng(seed, "ingest-split").permutation(N_DOCS)
    cuts = np.cumsum([0, INGEST_BASE_DOCS] + [INGEST_BATCH_DOCS] * rounds)
    return [np.sort(perm[a:b]) for a, b in zip(cuts[:-1], cuts[1:])]
