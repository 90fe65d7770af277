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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from similarity_search_with_hadoop_mapreduce_spark.sources.tables import fan_out

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
