"""Seeded document corpora for the benchmark.

Both generators write text in the fixture's format: lowercase words
joined by single spaces. Whitespace runs, tabs, unicode, empty and null
text (the tokenizer edge cases) are deliberately never produced; the
benchmark neither covers nor checks them.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd

# The shape of the documents test fixture's 31-word vocabulary: every
# word is common, so the prefix filter prunes almost nothing and verify
# dominates.
DENSE_WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast spark batch the table small "
    "data big customer row dup"
).split()

LANGS = ("de", "en", "es", "fr", "zh")


def dense_texts(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Fixture-shaped texts: 10-100 tokens drawn uniformly from 31 words."""
    words = np.array(DENSE_WORDS)
    lens = rng.integers(10, 101, size=n_docs)
    return [" ".join(words[rng.integers(0, len(words), size=k)]) for k in lens]


def zipf_texts(
    rng: np.random.Generator,
    n_docs: int,
    vocab: int = 65_536,
    exponent: float = 1.0,
    dup_share: float = 0.10,
    max_edit: float = 0.10,
) -> list[str]:
    """Realistic texts: a Zipf(``exponent``) vocabulary, 20-120 tokens per
    doc, and ``dup_share`` of the docs planted as copies of an earlier doc
    with at most ``max_edit`` of their tokens replaced."""
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks ** -exponent
    cdf = np.cumsum(p / p.sum())
    words = np.array([f"w{r:x}" for r in range(vocab)])
    lens = rng.integers(20, 121, size=n_docs)
    draws = np.minimum(np.searchsorted(cdf, rng.random(int(lens.sum()))), vocab - 1)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    docs = [draws[bounds[i]:bounds[i + 1]] for i in range(n_docs)]
    n_dups = int(round(dup_share * n_docs))
    for i in rng.choice(np.arange(1, n_docs), size=n_dups, replace=False):
        src = docs[int(rng.integers(0, i))].copy()
        n_edit = int(rng.integers(0, int(max_edit * len(src)) + 1))
        pos = rng.choice(len(src), size=n_edit, replace=False)
        src[pos] = rng.integers(0, vocab, size=n_edit)
        docs[i] = src
    return [" ".join(words[d]) for d in docs]


def documents_frame(rng: np.random.Generator, texts: list[str]) -> pd.DataFrame:
    """The ``documents`` table (loader schema) around ``texts``."""
    n = len(texts)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), size=n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_documents(sf_dir: Path, frame: pd.DataFrame) -> None:
    sf_dir.mkdir(parents=True, exist_ok=True)
    frame.to_parquet(sf_dir / "documents.parquet", index=False)


def properties(texts: list[str]) -> dict:
    """Regime descriptors a reader can check the workload against."""
    sets = [set(t.split(" ")) for t in texts]
    vocab = set().union(*sets)
    return {
        "docs": len(texts),
        "vocab": len(vocab),
        "mean_set_size": round(float(np.mean([len(s) for s in sets])), 3),
    }
