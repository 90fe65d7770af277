"""The one tokenizer and the one n-gram construction (no Python UDFs).

Every text operator runs the same staged path: :func:`stage_tokens`
projects the Java-split token array into its own column ``_toks``, and
:func:`ngrams_attr_sql` builds word n-grams over that attribute
(:func:`staged_shingles_frame` is the trigram-set case;
:func:`word_pairs_sql` is the word-pair form the bigram LMs explode).
``split`` / ``transform`` / ``sequence`` / ``array_distinct`` are JVM
expressions, so shingling a 100 TB corpus is a map-only stage with no
Python boundary.
Expressions are rendered as SQL text and parsed once: building them node
by node as ``Column`` objects costs a Py4J round trip per operator.

Reference parity notes (SURVEY.md §2.3):

- Q6: tokenization is case-sensitive ``\\W+`` with **Java**
  ``String.split`` (limit=0) semantics — leading empty token preserved,
  trailing empty tokens removed.  Spark's ``split`` uses the same Java
  regex engine (ASCII ``\\W``) but with limit=-1 semantics (trailing
  empties kept), so :func:`java_split_tokens_sql` trims them explicitly.
- T3: shingles are word trigrams ``w[i] w[i+1] w[i+2]``; <3 tokens ⇒
  empty set (``BookQuery.java:37-40,66-70``).
- T4: shingle sets are distinct per document (``HashSet``,
  ``BookQuery.java:26,66``).
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from similarity_search_with_hadoop_mapreduce_spark.sources.tables import fan_out

if TYPE_CHECKING:
    import numpy as np
    import pyarrow as pa

_PLAIN_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _ident_sql(c: str) -> str:
    """Backtick-quote a plain identifier so reserved words (``from``,
    ``select``) resolve as column names; anything else (dotted paths,
    function calls, full expressions) is passed through verbatim."""
    return f"`{c}`" if _PLAIN_IDENT.match(c) else c


def java_split_tokens_sql(c: str) -> str:
    """``c.split("\\\\W+")`` with Java ``String.split`` semantics, as SQL.

    Java (limit=0) removes *trailing* empty strings but keeps a leading
    one (``BookQuery.java:35,64,126``).  With ``\\W+``, empty tokens can
    only appear at the ends, so after Spark's limit=-1 split we drop: 2
    trailing empties when the whole string was delimiters (Java:
    ``"!!!".split("\\\\W+") == []``), 1 when the string merely ends with
    a delimiter.  A no-match input (e.g. ``""``) keeps Java's
    single-element ``[""]`` result.  ``c`` is a column name or a SQL
    expression."""
    t = f"split({_ident_sql(c)}, '\\\\W+', -1)"
    n = f"size({t})"
    drop = (
        f"CASE WHEN {n} <= 1 THEN 0 "
        f"WHEN element_at({t}, -1) = '' AND element_at({t}, {n} - 1) = '' "
        f"THEN 2 "
        f"WHEN element_at({t}, -1) = '' THEN 1 ELSE 0 END"
    )
    return f"slice({t}, 1, CAST({n} - ({drop}) AS INT))"


def java_split_tokens(c: str) -> Column:
    """:func:`java_split_tokens_sql` as a Column (one sql parse)."""
    return F.expr(java_split_tokens_sql(c))


def stage_tokens(documents: DataFrame, text_col: str, *keep: str) -> DataFrame:
    """Projection-stage the token array: ``(*keep, text_col, _toks)``.

    Consumers of the token array reference it many times (size, stopword
    filter, length fold, the n-gram lambda ...). Interpreted higher-order
    functions get no whole-stage-codegen subexpression elimination, so
    inlining the split into every reference re-tokenizes the document per
    metric — measured 2.1× the CPU of this staged form on the sf0.1
    corpus. The explicit projection is a real barrier: CollapseProject
    declines to inline a non-cheap alias that is referenced more than
    once, so ``_toks`` is computed exactly once per row and reused.
    ``fan_out`` spreads an under-split scan before the CPU-heavy
    projections (no-op at real scale)."""
    return fan_out(documents).select(
        *keep, text_col, java_split_tokens(text_col).alias("_toks")
    )


def ngrams_attr_sql(col: str, n: int) -> str:
    """Word ``n``-grams over a STAGED token attribute ``col`` via
    ``sequence + element_at``; ``< n`` tokens ⇒ ``[]``.

    ONLY valid when ``col`` is a materialized attribute (see
    :func:`stage_tokens`): with an inline expression, the interpreted
    lambda would re-evaluate the split per index — O(n²) per document."""
    parts = ", ".join(
        [f"element_at({col}, i)"]
        + [f"element_at({col}, i + {j})" for j in range(1, n)]
    )
    return (
        f"CASE WHEN size({col}) >= {n} THEN "
        f"transform(sequence(1, size({col}) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def word_pairs_sql(col: str) -> str:
    """Adjacent word pairs ``(w[i], w[i+1])`` of a STAGED token attribute
    ``col`` as ``arrays_zip(tokens[:-1], tokens[1:])``: an array of
    structs with fields ``0`` and ``1``; ``< 2`` tokens ⇒ ``[]``.

    Two slices, no indexed lambda. This matters under sessions WITHOUT
    the package's InferFiltersFromGenerate exclusion (session.py): the
    inferred ``size(...) > 0`` filter inlines the staged token expression
    into the scan filter, and an indexed ``transform`` lambda there would
    re-evaluate the whole split chain PER PAIR INDEX — O(len²) per
    document (measured 40.8 s vs 1.8 s at sf0.1). The slice/zip form
    inlines to a constant number of linear passes and stays native
    codegen."""
    n = f"greatest(size({col}) - 1, 0)"
    return f"arrays_zip(slice({col}, 1, {n}), slice({col}, 2, {n}))"


def staged_shingles_frame(
    documents, text_col: str = "text", alias: str = "s",
    keep: tuple = ("doc_id",),
):
    """``documents`` → ``(*keep, <alias>=distinct trigram set)`` — the map
    side of the reference's Mapper1 (``BookQuery.java:64-70``), over the
    token array staged by :func:`stage_tokens` (~2.4x less CPU than an
    inline tokenizer at sf0.1)."""
    return stage_tokens(documents, text_col, *keep).select(
        *keep,
        F.expr(f"array_distinct({ngrams_attr_sql('_toks', 3)})").alias(alias),
    )


class TrigramSets(NamedTuple):
    """The distinct word-trigram sets of a column of texts, as term ids
    (:func:`trigram_sets`). Row ``r``'s set is ``terms[ptr[r]:ptr[r+1]]``,
    ascending. Term ``t`` is the trigram with exact code ``keys[t]``
    (ascending, so ids are dense ranks of the codes); a code is
    ``pair * base + c`` over token ids ``a, b, c`` with
    ``base = len(vocab) + 1``, where ``pair`` is ``a * base + b``, or its
    rank in ``pairs`` when the packed code would overflow int64. Token id
    ``len(vocab)`` is Java's leading empty token."""

    ptr: np.ndarray
    terms: np.ndarray
    keys: np.ndarray
    pairs: np.ndarray | None
    vocab: pa.Array

    def strings(self, term_ids) -> list[str]:
        """The trigram text of each term id, as ``staged_shingles_frame``
        spells it."""
        import numpy as np
        import pyarrow as pa

        base = len(self.vocab) + 1
        pair, c = np.divmod(self.keys[np.asarray(term_ids, np.int64)], base)
        if self.pairs is not None:
            pair = self.pairs[pair]
        words = pa.concat_arrays([self.vocab, pa.array([b""], self.vocab.type)])
        a, b = np.divmod(pair, base)
        parts = [words.take(pa.array(x)).to_pylist() for x in (a, b, c)]
        return [b" ".join(t).decode("ascii") for t in zip(*parts)]


def trigram_sets(text) -> TrigramSets:
    """:func:`staged_shingles_frame`'s sets, computed on the driver from an
    Arrow string column (an ``Array`` or ``ChunkedArray``; NULL is an
    empty text) with numpy, exactly: no trigram is hashed.

    Java's ``split("\\\\W+")`` over Spark's strings, restated on bytes.
    Spark decodes a string's UTF-8 bytes to Java's UTF-16, where a
    malformed sequence becomes U+FFFD, and Java's decoder never folds an
    ASCII byte into a malformed sequence; ``\\W`` is ASCII. So a token is
    a maximal run of the bytes ``[0-9A-Za-z_]`` and every other byte
    (each byte of a non-ASCII character, valid or not) is a delimiter;
    a text that starts with a delimiter and holds a word gets Java's
    leading empty token; a text of delimiters only has no tokens.

    Tokens are dictionary-encoded, and a trigram's code packs its three
    token ids (see :class:`TrigramSets`); the pair ids are re-ranked first
    when the packed code would overflow, which happens from 2**21
    distinct tokens on."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    col = pc.cast(text, pa.large_binary())
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    col = col.fill_null(b"")
    offsets = np.frombuffer(col.buffers()[1], np.int64)[
        col.offset : col.offset + len(col) + 1
    ]
    buf = col.buffers()[2]
    data = np.frombuffer(buf, np.uint8) if buf is not None else np.zeros(0, np.uint8)
    data = data[offsets[0] : offsets[-1]]
    offsets = offsets - offsets[0]

    word_byte = np.zeros(256, bool)
    for lo, hi in (b"09", b"AZ", b"az", b"__"):
        word_byte[lo : hi + 1] = True
    word = word_byte[data]
    row_start = np.zeros(len(data) + 1, bool)
    row_start[offsets] = True  # (the end of the data counts as a start)
    padded = np.concatenate(([False], word, [False]))
    starts = np.flatnonzero(word & (row_start[:-1] | ~padded[:-2]))
    ends = np.flatnonzero(word & (row_start[1:] | ~padded[2:])) + 1
    row = np.searchsorted(offsets, starts, side="right") - 1
    del row_start, padded

    token_ptr = np.zeros(len(starts) + 1, np.int64)
    np.cumsum(ends - starts, out=token_ptr[1:])
    tokens = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), len(starts),
        [None, pa.py_buffer(token_ptr), pa.py_buffer(data[word])],
    )
    encoded = pc.dictionary_encode(tokens)
    vocab = encoded.dictionary
    ids = encoded.indices.to_numpy().astype(np.int64)
    del tokens, encoded, token_ptr, ends

    # Java's leading empty token, before the first word of each text that
    # starts with a delimiter
    count = np.bincount(row, minlength=len(col))
    lead = np.flatnonzero(count)
    lead = lead[~word[offsets[lead]]]
    at = (np.cumsum(count) - count)[lead]
    ids = np.insert(ids, at, len(vocab))
    row = np.insert(row, at, lead)

    base = len(vocab) + 1
    i = np.flatnonzero(row[2:] == row[:-2])  # trigrams inside one text
    pair = ids[i] * base + ids[i + 1]  # < base**2 <= 2**62
    pairs = None
    if len(i) and (int(pair.max()) + 1) * base > 2**63:
        pairs, pair = np.unique(pair, return_inverse=True)
    keys, term = np.unique(pair * base + ids[i + 2], return_inverse=True)
    # distinct (row, term) pairs, by row and then term
    row_terms = np.unique(row[i] * len(keys) + term)
    rows, terms = np.divmod(row_terms, max(1, len(keys)))
    ptr = np.zeros(len(col) + 1, np.int64)
    np.cumsum(np.bincount(rows, minlength=len(col)), out=ptr[1:])
    return TrigramSets(ptr, terms, keys, pairs, vocab)

