"""Deterministic Zipf-vocabulary corpus for the heavy-tailed regime tests.

The fixture corpus (~50-word near-uniform vocabulary) has no Zipf head.
``make_corpus`` writes a documents.parquet slice drawn from Zipf(s) over a
5000-word vocabulary, so a handful of head words appear in nearly every
document while the tail is rare (BASELINE.md "Zipfian crossover" records
the dedup_jaccard_prefix vs dedup_jaccard_pairs timings on it).
"""

from __future__ import annotations

import os

import numpy as np


def make_corpus(out_dir: str, n_docs: int, s: float, seed: int = 7) -> str:
    """Write a Zipf(s) corpus: n_docs docs, ~120 tokens each, 10% of docs
    followed by a 90%-overlap mutated near-copy (so the join produces
    real pairs, like the fixture's seeded near-dups)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:05d}" for i in range(5000)])
    # Zipf ranks: p(k) ∝ 1/k^s over the vocab, normalized.
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks**-s
    p /= p.sum()
    texts: list[str] = []
    doc_ids: list[int] = []
    i = 0
    while len(texts) < n_docs:
        n_tok = int(rng.integers(80, 160))
        toks = vocab[rng.choice(len(vocab), size=n_tok, p=p)]
        texts.append(" ".join(toks))
        doc_ids.append(i)
        i += 1
        if len(texts) < n_docs and rng.random() < 0.1:
            # Near-dup: resample 10% of positions.
            mut = toks.copy()
            kill = rng.random(n_tok) < 0.1
            mut[kill] = vocab[rng.choice(len(vocab), size=int(kill.sum()), p=p)]
            texts.append(" ".join(mut))
            doc_ids.append(i)
            i += 1
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    tbl = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["zipf"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, path)
    return out_dir
