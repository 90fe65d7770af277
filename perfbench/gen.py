"""Seeded input generators for the benchmark.

Two corpora, both drawn from the same rank-frequency law real text
follows (token probability proportional to 1/rank**s, s = 1.05, over a
20,000-word vocabulary of ``w<rank>`` words), with about 8% of documents
near-duplicates of an earlier one (8% of their tokens resampled):

- ``zipf_corpus``: the ``documents`` parquet table of the serving
  workloads, short documents of 40 to 120 tokens, read with
  ``load_table(spark, dir, "documents")``;
- ``book_dir``: a directory of book-length plain-text files (50,000
  tokens each, about 12 words per line), one of them named ``query.txt``,
  the reference CLI's input contract.

One seeded NumPy generator drives each corpus, so the same arguments
give byte-identical files.

Usage::

    python3 perfbench/gen.py zipf OUT_DIR --seed 7
    python3 perfbench/gen.py books OUT_DIR --seed 7
"""

from __future__ import annotations

import argparse
import os

import numpy as np

VOCAB = 20_000
ZIPF_S = 1.05
DUP_RATE = 0.08
PERTURB = 0.08


def _zipf_cdf(vocab: int = VOCAB, s: float = ZIPF_S) -> np.ndarray:
    p = np.arange(1, vocab + 1, dtype=np.float64) ** -s
    cdf = np.cumsum(p)
    return cdf / cdf[-1]


def _draw(rng: np.random.Generator, cdf: np.ndarray, n: int) -> np.ndarray:
    # inverse-CDF sampling; the clip guards the last bin against rounding
    return np.minimum(np.searchsorted(cdf, rng.random(n)), len(cdf) - 1)


def _token_docs(
    rng: np.random.Generator, n_docs: int, lengths: np.ndarray
) -> list[np.ndarray]:
    """Token-rank arrays; each document after the first is, with
    probability ``DUP_RATE``, a copy of an earlier one with ``PERTURB`` of
    its tokens redrawn."""
    cdf = _zipf_cdf()
    docs: list[np.ndarray] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < DUP_RATE:
            t = docs[int(rng.integers(0, i))].copy()
            m = max(1, int(len(t) * PERTURB))
            t[rng.choice(len(t), size=m, replace=False)] = _draw(rng, cdf, m)
        else:
            t = _draw(rng, cdf, int(lengths[i]))
        docs.append(t)
    return docs


def _words() -> list[str]:
    return [f"w{i}" for i in range(VOCAB)]


def zipf_corpus(
    out_dir: str, seed: int, n_docs: int = 20_000,
    min_len: int = 40, max_len: int = 120,
) -> str:
    """Write ``out_dir/documents.parquet`` (``doc_id`` bigint, ``text``
    string) and return its directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(min_len, max_len + 1, size=n_docs)
    words = _words()
    texts = [" ".join([words[i] for i in t.tolist()])
             for t in _token_docs(rng, n_docs, lengths)]
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
    })
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return out_dir


def book_dir(
    out_dir: str, seed: int, n_books: int = 100, tokens: int = 50_000,
    words_per_line: int = 12,
) -> str:
    """Write ``n_books`` text files ``book000.txt`` ... into ``out_dir``;
    the last one is named ``query.txt``. Returns ``out_dir``."""
    rng = np.random.default_rng([seed, 2])
    words = _words()
    docs = _token_docs(rng, n_books, np.full(n_books, tokens))
    os.makedirs(out_dir, exist_ok=True)
    for i, t in enumerate(docs):
        name = "query.txt" if i == n_books - 1 else f"book{i:03d}.txt"
        # lines of 12 words on average, 6 to 18 each
        cuts = np.cumsum(rng.integers(words_per_line // 2,
                                      words_per_line * 3 // 2 + 1,
                                      size=len(t) // (words_per_line // 2)))
        bounds = [0, *cuts[cuts < len(t)].tolist(), len(t)]
        toks = [words[i] for i in t.tolist()]
        with open(os.path.join(out_dir, name), "w") as f:
            f.write("\n".join(" ".join(toks[i:j])
                              for i, j in zip(bounds, bounds[1:])) + "\n")
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("kind", choices=("zipf", "books"))
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    make = zipf_corpus if a.kind == "zipf" else book_dir
    make(a.out_dir, a.seed)


if __name__ == "__main__":
    main()
