"""Deterministic input tables for the benchmark.

The engine's queries read ``documents.parquet`` and ``embeddings.parquet``
from a scale-factor directory.  These tables are generated here, from a fixed
seed, with the schema of the engine's test data:

  documents(doc_id bigint, text string, lang string, source string, n_chars bigint)
  embeddings(vec_id bigint, embedding array<float>, label int)

Texts are drawn from a 30-word vocabulary, and one document in twenty is a
near-duplicate of an earlier one, so the dedup and LSH queries find pairs.
Embeddings are unit vectors around ten cluster centres (``label`` = centre).
The table contents do not depend on the workload seed: the seed only changes
which work the benchmark asks for (query order, page window, lost batch).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DIM = 64
CENTRES = 10


def documents(n: int, rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    centres = rng.standard_normal((CENTRES, DIM))
    label = rng.integers(0, CENTRES, n)
    vec = centres[label] + 0.6 * rng.standard_normal((n, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def write_tables(out_dir: str, n_docs: int, n_vecs: int) -> None:
    """Write both tables into ``out_dir`` (a scale-factor directory)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    pq.write_table(documents(n_docs, rng), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings(n_vecs, rng), os.path.join(out_dir, "embeddings.parquet"))
