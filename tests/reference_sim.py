"""Pure-Python re-implementation of the reference's exact MapReduce
semantics (BookQuery.java), used as the parity oracle for the Spark
flagship. Mirrors quirks Q1-Q7 of SURVEY.md §2.3:

- Q1: len1 = |D∩Q| (retainAll before size, BookQuery.java:77,80)
- Q2: score = s / ((len1+|Q|) - s) with s = surviving shared shingles
- Q3: zero-overlap documents are absent
- Q5: the query document participates in term df counts; n includes it
- Q6: Java String.split("\\W+") tokenization (leading empty kept,
  trailing empties dropped, no-match returns [original])
"""

from __future__ import annotations

import re

_TOKEN_RE = re.compile(r"\W+", re.ASCII)  # Java's \W is ASCII-only


def java_split(text: str) -> list[str]:
    """Java ``String.split("\\W+")`` (limit=0) semantics."""
    if not _TOKEN_RE.search(text):
        return [text]  # no match: Java returns the original string
    parts = _TOKEN_RE.split(text)
    while parts and parts[-1] == "":
        parts.pop()
    return parts


def shingle_set(text: str) -> set[str]:
    """Distinct word-trigram set (BookQuery.java:64-70); <3 tokens -> {}."""
    w = java_split(text)
    return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}


def mr_similarity(corpus: dict[str, str], query_id: str) -> dict[str, float]:
    """Run the full 2-job pipeline on {doc_id: text}; returns {doc_id: score}.

    ``corpus`` must contain ``query_id`` (the reference's query file lives
    inside the input dir, quirk Q5). ``n`` is the corpus size including it.
    """
    n = len(corpus)
    q_set = shingle_set(corpus[query_id])
    q_len = len(q_set)

    # Job 1: per-doc intersection with the query, then term -> postings
    postings: dict[str, list[tuple[str, int]]] = {}
    for doc_id, text in corpus.items():
        kept = shingle_set(text) & q_set
        for term in kept:
            postings.setdefault(term, []).append((doc_id, len(kept)))

    # Reducer1 prune: drop terms present in every doc or only in the query
    survived = {
        t: ps for t, ps in postings.items() if len(ps) != n and len(ps) != 1
    }

    # Job 2: count surviving shared shingles per (doc, len1), score
    counts: dict[tuple[str, int], int] = {}
    for ps in survived.values():
        for doc_id, len1 in ps:
            if doc_id == query_id:
                continue
            counts[(doc_id, len1)] = counts.get((doc_id, len1), 0) + 1

    out: dict[str, float] = {}
    for (doc_id, len1), s in counts.items():
        denom = (len1 + q_len) - s
        out[doc_id] = 1.0 if s == len1 + q_len else s / denom
    return out


def jaccard_similarity(corpus: dict[str, str], query_id: str) -> dict[str, float]:
    """Textbook |D∩Q|/|D∪Q| for every non-query doc with overlap > 0."""
    q = shingle_set(corpus[query_id])
    out = {}
    for doc_id, text in corpus.items():
        if doc_id == query_id:
            continue
        d = shingle_set(text)
        if d | q:
            j = len(d & q) / len(d | q)
            if j > 0:
                out[doc_id] = j
    return out
