"""Seeded document corpus for the dedup specs.

Writes ``documents.parquet`` (``doc_id text lang source n_chars``, the
columns and physical types the specs read) with the shape measured on the
sf0.1 ``documents.parquet`` of the repository's test data (5,000 rows):

- text: 10 to 99 words drawn uniformly from the 30-word ``VOCAB``;
- 4.9% near-duplicates: another document's text (anywhere in the corpus)
  plus the word ``dup``;
- 0.16% exact copies of another document;
- ``lang``: ``en`` 41%, ``zh``, ``es``, ``fr``, ``de`` 14 to 15% each;
- ``source``: ``src{doc_id % 20}``; ``n_chars``: the text's length.

Only the document count differs from sf0.1; the benchmark chooses it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
NEAR_DUP_SHARE = 0.049
EXACT_DUP_SHARE = 0.0016


def write_documents(out_dir: str, seed: int, n: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]) for _ in range(n)]
    kind = rng.random(n)
    src = rng.integers(0, n - 1, n)
    src += src >= np.arange(n)  # any document but itself
    for i in np.flatnonzero(kind < NEAR_DUP_SHARE + EXACT_DUP_SHARE):
        texts[i] = texts[src[i]] + (" dup" if kind[i] < NEAR_DUP_SHARE else "")
    table = pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
