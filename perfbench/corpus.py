"""Seeded ``documents`` table for the curation workload.

The shape follows the registry's sf0.01 ``documents`` test table
(doc_id, text, lang, source, n_chars), as measured from that table:

- texts of 10-99 words, uniform, over a 30-word vocabulary;
- languages en 44%, zh/de/fr/es about 14% each; source ``src{doc_id % 20}``;
- no exact duplicate texts (no text is copied twice);
- 5% of the rows are near-copies: an earlier text with the word ``dup``
  appended, placed at a random doc_id. A copy can itself be copied, so the
  near-duplicate graph (word-trigram Jaccard >= 0.5) has mostly two-document
  components and the odd three-document chain; min-label propagation
  converges in one round and confirms in a second.

The sf0.01 table has 500 rows; the default here is 200 with the same
shape, because the registry's DuckDB oracles, which check every run, take
about 37 s at 500 rows and 5 s at 200 (4 vCPUs).
"""

from __future__ import annotations

import os
import random

import pandas as pd

VOCAB = (
    "a the key agg row scan slow fast table value part hash batch merge spark "
    "line sort window order data column join small customer query big stream "
    "filter group vector"
).split()
LANGS = (("en", 0.44), ("zh", 0.14), ("de", 0.14), ("fr", 0.14), ("es", 0.14))
N_DOCS = 200
N_COPIES = N_DOCS // 20


def generate(sf_dir: str, seed: int, n_docs: int = N_DOCS, n_copies: int = N_COPIES) -> int:
    """Write ``<sf_dir>/documents.parquet``; returns its byte size."""
    rng = random.Random(seed)
    langs, weights = zip(*LANGS)
    texts = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99)))
        for _ in range(n_docs - n_copies)
    ]
    copied: set[int] = set()  # each text is copied at most once: no exact duplicates
    for _ in range(n_copies):
        k = rng.choice([k for k in range(len(texts)) if k not in copied])
        copied.add(k)
        texts.append(texts[k] + " dup")
    # the copies sit at random doc_ids, as in the registry table, so a
    # copy's doc_id is as likely to be below its original's as above it
    rng.shuffle(texts)
    rows = [
        {
            "doc_id": doc_id,
            "text": text,
            "lang": rng.choices(langs, weights)[0],
            "source": f"src{doc_id % 20}",
            "n_chars": len(text),
        }
        for doc_id, text in enumerate(texts)
    ]
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pd.DataFrame(rows).to_parquet(path, index=False)
    return os.path.getsize(path)
