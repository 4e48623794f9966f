"""Seeded document generator for the ``curation_stream`` workload.

Documents follow the shape of the shipped ``documents`` testdata table:
10-100 words over a 30-word vocabulary, 5% near duplicates (a copy of an
earlier document plus ``dup``), 0.2% exact duplicates, 20 sources and
five languages.  The same generator state gives the same documents.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` documents (``doc_id text lang source n_chars``), ids 0..n-1."""
    vocab = np.array(WORDS)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    for i in range(1, n):
        u = rng.random()
        if u < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif u < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
