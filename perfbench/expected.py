"""Independent answer check: expected results computed in plain Python,
outside the measured processes, and the comparison of responses against
them.

Semantics follow the reference's two MapReduce jobs (BookQuery.java):
Java ``String.split("\\W+")`` tokens, distinct word trigrams per
document, and the parity score of ``similarity_to_query``,
``top_k_similar`` and the CLI: ``len1 = |D ∩ Q|``; a shared trigram
survives unless its document frequency over the corpus (query included)
is 1 or ``n``; ``s`` counts surviving shared trigrams; the score is
``s / ((len1 + |Q|) - s)``; documents with ``s == 0`` and the query
itself are absent.

Scores come from one inverted index (trigram -> ids of the documents
holding it) built once per corpus.
"""

from __future__ import annotations

import os
import re

# Java's \W is ASCII-only: [^a-zA-Z_0-9]
_TOKEN_RE = re.compile(r"\W+", re.ASCII)
SCORE_TOL = 1e-12


def java_split(text: str) -> list[str]:
    """Java ``String.split("\\W+")`` (limit 0): a leading empty token is
    kept, trailing empty tokens are dropped, no match returns the input."""
    if not _TOKEN_RE.search(text):
        return [text]
    parts = _TOKEN_RE.split(text)
    while parts and parts[-1] == "":
        parts.pop()
    return parts


def shingle_set(text: str) -> set[tuple]:
    """Distinct word trigrams as token triples: tokens never contain a
    space, so triples compare exactly as the reference's space-joined
    strings do."""
    w = java_split(text)
    return set(zip(w, w[1:], w[2:]))


class Index:
    """Inverted trigram index over ``{doc_id: text}``, restricted to the
    trigrams of the documents that will be asked about."""

    def __init__(self, corpus: dict, query_ids):
        self.n = len(corpus)
        self.sets = {d: shingle_set(t) for d, t in corpus.items()}
        wanted = set().union(*(self.sets[q] for q in query_ids))
        self.postings: dict[tuple, list] = {}
        for d, s in self.sets.items():
            for term in s & wanted:
                self.postings.setdefault(term, []).append(d)

    def parity_scores(self, qid) -> dict:
        # {doc: (|D ∩ Q|, surviving shared count)} over the other docs
        shared: dict = {}
        for term in self.sets[qid]:
            ps = self.postings[term]
            survive = len(ps) != self.n and len(ps) != 1
            for d in ps:
                if d == qid:
                    continue
                len1, s = shared.get(d, (0, 0))
                shared[d] = (len1 + 1, s + survive)
        q_len = len(self.sets[qid])
        return {
            d: 1.0 if s == len1 + q_len else s / ((len1 + q_len) - s)
            for d, (len1, s) in shared.items() if s > 0
        }


def top_k(scores: dict, k: int = 10) -> list:
    """``[(doc_id, score)]`` ranked by score descending, then doc id."""
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def same_ranking(got: list, want: list) -> bool:
    """Exact doc ids in order; scores within ``SCORE_TOL``."""
    return len(got) == len(want) and all(
        gd == wd and abs(gs - ws) <= SCORE_TOL
        for (gd, gs), (wd, ws) in zip(got, want)
    )


def same_score_set(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        abs(got[d] - want[d]) <= SCORE_TOL for d in want
    )


def read_parquet_corpus(corpus_dir: str) -> dict:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(corpus_dir, "documents.parquet"),
                      columns=["doc_id", "text"])
    return dict(zip(t.column("doc_id").to_pylist(),
                    t.column("text").to_pylist()))


def read_book_dir(book_dir: str) -> dict:
    """``{doc_id: text}`` by the reference's rule: doc id is the file
    name up to its first ``.``; lines are joined with one space."""
    out = {}
    for name in sorted(os.listdir(book_dir)):
        with open(os.path.join(book_dir, name)) as f:
            lines = f.read().splitlines()
        out[name.split(".", 1)[0]] = " ".join(lines)
    return out


def read_reference_output(out_dir: str) -> dict:
    """Parse the CLI's ``doc - query\\tscore`` part files to
    ``{doc_id: score}``; a malformed line raises ``ValueError``."""
    got = {}
    for name in sorted(os.listdir(out_dir)):
        if name.startswith(("_", ".")):
            continue
        with open(os.path.join(out_dir, name)) as f:
            for line in f:
                pair, score = line.rstrip("\n").split("\t")
                doc, _, _query = pair.partition(" - ")
                if doc in got:
                    raise ValueError(f"duplicate output line for {doc!r}")
                got[doc] = float(score)
    return got
