"""java_split_tokens / staged_shingles_frame vs the Python harness,
including Java String.split edge semantics (SURVEY §2.3 Q6)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from similarity_search_with_hadoop_mapreduce_spark.functions.text import (
    java_split_tokens,
    staged_shingles_frame,
    trigram_sets,
)
from tests.reference_sim import java_split, shingle_set

EDGES = [
    "",
    "word",
    "two words",
    "a b c",
    "!!! ...",
    "!leading punct words here",
    "trailing words here!!!",
    "!both ends!",
    '"quoted start of text',
    "tab\tand\nnewline separated words",
    "UPPER lower MiXeD case",
    "numbers 123 and_underscores keep",
    "repeat repeat repeat repeat repeat",
    # Java's \W is ASCII: non-ASCII letters are delimiters
    "café au lait ok",
    "naïve über façade here",
    "日本語 text here now",
]


def _spark_tokens(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    rows = df.select("i", java_split_tokens("t").alias("tok")).collect()
    return [r.tok for r in sorted(rows, key=lambda r: r.i)]


def _spark_shingles(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    rows = staged_shingles_frame(df, "t", alias="s", keep=("i",)).collect()
    return [set(r.s) for r in sorted(rows, key=lambda r: r.i)]


def _kernel_shingles(texts):
    """The driver kernel's sets of ``texts`` (str, bytes or None), as
    trigram strings."""
    import pyarrow as pa

    sets = trigram_sets(
        pa.array([t.encode() if isinstance(t, str) else t for t in texts],
                 pa.binary())
    )
    return [
        set(sets.strings(sets.terms[sets.ptr[r] : sets.ptr[r + 1]]))
        for r in range(len(texts))
    ]


def test_java_split_edge_cases(spark):
    got = _spark_tokens(spark, EDGES)
    want = [java_split(t) for t in EDGES]
    assert got == want


def test_shingle_edge_cases(spark):
    got = _spark_shingles(spark, EDGES)
    want = [shingle_set(t) for t in EDGES]
    assert got == want
    assert _kernel_shingles(EDGES) == want


# Texts whose bytes Spark holds as is, invalid UTF-8 included (built with
# CAST(X'...' AS STRING)): Java decodes a malformed sequence to U+FFFD, a
# delimiter, and never folds an ASCII byte into it
HOSTILE_BYTES = [
    b"abc\xffdef ghi jkl mno",  # abc | def: three trigrams, not two
    b"\xe2Abc def ghi ",  # a lone lead byte starts the text: leading ""
    b"\xc3(x y z",
    b"x\xe2\x82y z w",  # a truncated sequence between two words
    b"\xed\xa0\x80a b c",  # an encoded surrogate
    b"\xff\xfe\xfd",
    b"a\xff",
    b"\x00a b c\x00",
    "\U0001f600 emoji x y z".encode(),
    "zero\u200bwidth a b c".encode(),
    "tab\there\nnew line x\r\n".encode(),
    "café au lait ok".encode(),
    b"",
    b"!!! ...",
    b"  a b c ",
    b"!a b",
    b"one two",
    None,
]


def test_trigram_kernel_equals_spark_on_hostile_bytes(spark):
    """The driver kernel's sets equal ``staged_shingles_frame``'s on
    NULL, empty, delimiter-only, leading/trailing-delimiter, non-ASCII,
    emoji, zero-width-space, control-character and invalid UTF-8 rows."""
    values = ", ".join(
        f"({i}, CAST(X'{t.hex()}' AS STRING))" if t is not None
        else f"({i}, CAST(NULL AS STRING))"
        for i, t in enumerate(HOSTILE_BYTES)
    )
    df = spark.sql(f"SELECT * FROM VALUES {values} AS t(i, t)")
    rows = staged_shingles_frame(df, "t", alias="s", keep=("i",)).collect()
    want = [set(r.s or ()) for r in sorted(rows, key=lambda r: r.i)]
    assert _kernel_shingles(HOSTILE_BYTES) == want
    assert len(want[0]) == 3 and want[1] == {" Abc def", "Abc def ghi"}


def test_trigram_kernel_exact_past_packed_key_range():
    """From 2**21 distinct tokens on, the packed code (a*V + b)*V + c
    overflows int64: the kernel re-ranks the token pairs first and stays
    exact. Spark-free: checked against the pure-Python reference, one
    document at a time; neighbouring documents share five tokens, so
    terms are shared across rows too."""
    import numpy as np
    import pyarrow as pa

    n_tokens = 2**21 + 40_000
    words = np.char.add("t", np.arange(n_tokens).astype(str))
    cuts = np.linspace(0, n_tokens, 65).astype(int)
    texts = [" ".join(words[lo : hi + 5]) + " x" for lo, hi in zip(cuts, cuts[1:])]
    texts.append(texts[3])  # a repeated document
    del words
    sets = trigram_sets(pa.array(texts))
    assert sets.pairs is not None  # the re-ranked path ran
    assert (len(sets.vocab) + 1) ** 3 > 2**63
    rows = [sets.terms[sets.ptr[r] : sets.ptr[r + 1]] for r in range(len(texts))]
    for r, text in enumerate(texts):
        got = sets.strings(rows[r])
        assert len(got) == len(set(got)) and set(got) == shingle_set(text), r
    # one id per trigram across rows: the five shared tokens make three
    # shared trigrams, and the repeated document has the same ids
    for a, b in zip(rows[:63], rows[1:64]):
        assert len(np.intersect1d(a, b)) == 3
    assert np.array_equal(rows[3], rows[-1])


def test_ngrams_attr_sql_positional_edge_cases(spark):
    """ngrams_attr_sql keeps order and repeats before any distinct:
    every window of the staged tokens, for n = 1, 3 and 5."""
    from similarity_search_with_hadoop_mapreduce_spark.functions.text import (
        ngrams_attr_sql,
        stage_tokens,
    )

    df = spark.createDataFrame(list(enumerate(EDGES)), "i long, t string")
    for n in (1, 3, 5):
        rows = stage_tokens(df, "t", "i").select(
            "i", F.expr(ngrams_attr_sql("_toks", n)).alias("g")
        ).collect()
        got = [r.g for r in sorted(rows, key=lambda r: r.i)]
        want = []
        for t in EDGES:
            w = java_split(t)
            want.append([" ".join(w[i : i + n]) for i in range(len(w) - n + 1)])
        assert got == want, n


@settings(
    max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    st.lists(
        st.text(
            alphabet="ab !.\t\n\"_0é", min_size=0, max_size=30
        ),
        min_size=1,
        max_size=20,
    )
)
def test_property_java_split(spark, texts):
    assert _spark_tokens(spark, texts) == [java_split(t) for t in texts]
    want = [shingle_set(t) for t in texts]
    assert _spark_shingles(spark, texts) == want
    assert _kernel_shingles(texts) == want


def test_sql_twins_quote_hostile_args(spark):
    # A reserved-word column name must resolve (backtick-quoted) through
    # both the tokenizer and the staged shingle frame.
    df = spark.createDataFrame([(0, "a'b c d")], "id long, `from` string")
    got = df.select(java_split_tokens("from").alias("t")).collect()
    assert got[0].t == ["a", "b", "c", "d"]
    got = staged_shingles_frame(df, "from", keep=("id",)).collect()
    assert sorted(got[0].s) == ["a b c", "b c d"]


# Edge fixture shared by the native-operator tests below: Java-split
# edge cases (punctuation-only, <3 tokens, "", leading delimiter) and
# NULL text.
_EDGE_DOCS = [
    (0, "alpha beta gamma delta alpha beta gamma"),
    (1, "alpha beta gamma unrelated tail words"),
    (2, "!!! ... ???"),          # all delimiters -> [] tokens
    (3, "two words"),             # <3 tokens -> no trigrams
    (4, ""),                      # no-match -> [''] -> no trigrams
    (5, "!leading delimiter keeps empty token here"),
    (6, "alpha beta gamma delta alpha beta gamma"),  # exact dup
    (7, None),                    # NULL text -> no trigrams, no crash
    (8, "the quick brown fox jumps over the lazy dog"),
    (9, "a dense, punct-heavy!! doc?? with (many) marks..."),
    (10, "word"),
    (11, "x " * 200),  # n_tokens > 100 saturates the quality length term
]


def _fixture_texts(spark):
    from tests.test_fixtures import SF

    fx = spark.read.parquet(f"{SF}/documents.parquet")
    return fx, [(r.doc_id, r.text) for r in fx.select("doc_id", "text").collect()]


def test_ngram_frequencies_matches_python_reference(spark):
    """Native ngram_frequencies equals a document-frequency count over
    the reference shingle sets: punctuation-only / <3-token / empty docs
    add no trigrams, a leading delimiter keeps Java's leading empty
    token inside trigrams, NULL text is skipped; top-k ties break on the
    term."""
    from collections import Counter

    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        ngram_frequencies,
    )

    def want(rows, top_k):
        c = Counter(g for _, t in rows if t is not None for g in shingle_set(t))
        return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]

    key = lambda r: (r.term, r.df)  # noqa: E731
    docs = spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string")
    got = [key(r) for r in ngram_frequencies(docs, top_k=50).collect()]
    assert got == want(_EDGE_DOCS, 50) and got
    assert (" leading delimiter", 1) in got
    fx, rows = _fixture_texts(spark)
    got = [key(r) for r in ngram_frequencies(fx, top_k=25).collect()]
    assert got == want(rows, 25) and len(got) == 25


def test_quality_score_matches_python_reference(spark):
    """Native quality_score equals the documented formula evaluated in
    Python over reference tokens, bit for bit after Spark's HALF_UP
    6-dp rounding — including NULL text (NULL n_tokens; ratios fall to
    0.0 and least() skips the NULL length term, so quality is 0.7),
    empty text (Java's [''] is one token), punctuation-only and
    no-match docs."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        EN_STOPWORDS,
        quality_score,
    )

    punct_re = re.compile(r"[^A-Za-z0-9_\s]", re.ASCII)

    def r6(x):  # java.math.BigDecimal.valueOf(x).setScale(6, HALF_UP)
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    def want(doc_id, text):
        if text is None:
            return (doc_id, None, 0.0, 0.0, 0.0, r6(1.0 * 0.4 + 1.0 * 0.3))
        toks = java_split(text)
        n = len(toks)
        punct = len(punct_re.findall(text)) / len(text) if text else 0.0
        stop = sum(t in EN_STOPWORDS for t in toks) / n if n else 0.0
        mean = sum(len(t) for t in toks) / n if n else 0.0
        quality = (
            min(n / 100.0, 1.0) * 0.4
            + (1.0 - min(punct * 5.0, 1.0)) * 0.3
            + min(stop * 10.0, 1.0) * 0.3
        )
        return (doc_id, n, r6(punct), r6(stop), r6(mean), r6(quality))

    key = lambda r: (  # noqa: E731
        r.doc_id, r.n_tokens, r.punct_ratio, r.stop_ratio,
        r.mean_token_len, r.quality,
    )
    docs = spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string")
    got = sorted(key(r) for r in quality_score(docs).collect())
    assert got == sorted(want(d, t) for d, t in _EDGE_DOCS)
    fx, rows = _fixture_texts(spark)
    got = sorted(key(r) for r in quality_score(fx).collect())
    assert got == sorted(want(d, t) for d, t in rows) and len(got) > 100


def test_benchmark_contamination_flags_overlapping_docs(spark):
    """GPT-3-style n-gram decontamination: a corpus doc sharing any word
    n-gram with the benchmark is flagged with exact hit counts; clean
    docs produce no row; the benchmark side BROADCASTS (plan-pinned) so
    the corpus never shuffles its text."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        benchmark_contamination,
    )
    from similarity_search_with_hadoop_mapreduce_spark.plans import explain_string

    benchmark = spark.createDataFrame(
        [(900, "what is the capital of france"),
         (901, "name the largest planet in our solar system")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains "the capital of france" -> 5-token overlap
            (1, "paris is the capital of france and a big city"),
            (2, "entirely unrelated text about gardening and soil quality"),
            # short doc, < n tokens: no n-grams, never flagged
            (3, "tiny doc"),
            # exact copy of a benchmark doc: every n-gram hits
            (4, "what is the capital of france"),
        ],
        "doc_id long, text string",
    )
    out = benchmark_contamination(corpus, benchmark, n=5)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 4}
    # doc 1: 10 tokens -> 6 distinct 5-grams; hits are the two 5-grams
    # inside "is the capital of france" window... compute by hand:
    # benchmark 900 tokens = [what, is, the, capital, of, france] ->
    # 5-grams {"what is the capital of", "is the capital of france"}
    # doc 1 tokens = [paris, is, the, capital, of, france, and, a, big,
    # city] -> contains "is the capital of france" only
    assert rows[1].n_hits == 1 and rows[1].n_ngrams == 6
    assert rows[1].hit_ratio == 1 / 6
    assert rows[4].n_hits == 2 and rows[4].n_ngrams == 2
    assert rows[4].hit_ratio == 1.0
    plan = explain_string(out, "formatted")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan



def test_pii_scrub_redacts_and_counts(spark):
    """Sequential email -> IPv4 -> phone passes: each character redacted
    at most once; NULL text propagates NULL; PII-free docs pin zeros."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        pii_scrub,
    )

    docs = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org ping 10.0.3.17 "
                "tel 555-867-5309 done"),
            # host is a dotted quad with no alpha TLD: not an email by the
            # pattern; the quad is redacted by the IP pass instead
            (2, "a@10.0.0.1 plain"),
            (3, None),
            (4, "no pii at all"),
            # two of one category
            (5, "x@y.io and z@w.org"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert rows[1].clean_text == "mail <EMAIL> ping <IP> tel <PHONE> done"
    assert (rows[1].n_emails, rows[1].n_ipv4, rows[1].n_phones,
            rows[1].n_pii) == (1, 1, 1, 3)
    assert rows[2].clean_text == "a@<IP> plain"
    assert (rows[2].n_emails, rows[2].n_ipv4) == (0, 1)
    assert rows[3].clean_text is None and rows[3].n_pii is None
    assert rows[4].clean_text == "no pii at all" and rows[4].n_pii == 0
    assert rows[5].n_emails == 2 and rows[5].n_pii == 2


def test_remove_dup_spans_transform(spark):
    """The removal transform drops exactly the tokens covered by
    cross-doc duplicated windows: shared boilerplate vanishes from both
    docs, unique tails survive in order, within-doc repetition is NOT
    removed, overlapping dup windows merge at the token grain, and
    short/NULL docs come back intact."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        remove_dup_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon uno dos tres"),
            # shares the leading 5-token window with doc 1 (its windows
            # 1 and 2 both duplicate -> tokens 1..6 covered)
            (2, "alpha beta gamma delta epsilon zeta tail two"),
            # internal repetition only: no other doc shares these
            (3, "p q r s t p q r s t"),
            (4, "four tokens only here"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in remove_dup_spans(docs, w=5).collect()}
    # doc 1: only window 1 "alpha..epsilon" is cross-doc (window 2 ends
    # in uno) -> tokens 1-5 removed, unique tail kept in order
    assert rows[1].clean_text == "uno dos tres"
    assert (rows[1].n_kept, rows[1].n_removed) == (3, 5)
    # doc 2: windows "alpha..epsilon" is shared -> tokens 1-5 removed
    assert rows[2].clean_text == "zeta tail two"
    assert (rows[2].n_kept, rows[2].n_removed) == (3, 5)
    # doc 3: within-doc repeats are not cross-doc duplicates
    assert rows[3].clean_text == "p q r s t p q r s t"
    assert (rows[3].n_kept, rows[3].n_removed) == (10, 0)
    assert rows[4].clean_text == "four tokens only here"
    assert rows[5].clean_text == "" and rows[5].n_removed == 0
    # overlap merging: three docs share a 6-token run -> both of its
    # 5-token windows duplicate, covered indices merge to 1..6
    docs2 = spark.createDataFrame(
        [
            (1, "a b c d e f x1 y1"),
            (2, "a b c d e f x2 y2"),
            (3, "a b c d e f"),
        ],
        "doc_id long, text string",
    )
    rows2 = {r.doc_id: r for r in remove_dup_spans(docs2, w=5).collect()}
    assert rows2[1].clean_text == "x1 y1"
    assert (rows2[1].n_kept, rows2[1].n_removed) == (2, 6)
    assert rows2[3].clean_text == ""
    assert (rows2[3].n_kept, rows2[3].n_removed) == (0, 6)
    # plan hygiene: no window operator anywhere
    from similarity_search_with_hadoop_mapreduce_spark.plans import explain_string

    assert "Window" not in explain_string(remove_dup_spans(docs, w=5))


def test_dup_span_stats_cross_doc_only(spark):
    """Windows are distinct per doc; a span shared with ANOTHER doc counts,
    a span repeated only within one doc does not; short docs pin zeros."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        dup_span_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            # shares the first 5-token window with doc 1, adds one unique
            (2, "alpha beta gamma delta epsilon omega nu"),
            # internal repetition only: "p q r s t" twice within one doc
            (3, "p q r s t p q r s t"),
            (4, "four tokens only here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dup_span_stats(docs, w=5).collect()}
    # doc 1: windows {a b g d e, b g d e z} -> first shared with doc 2
    assert out[1].n_spans == 2 and out[1].dup_spans == 1
    assert out[1].dup_span_frac == 0.5
    # doc 2: 3 windows, 1 shared
    assert out[2].n_spans == 3 and out[2].dup_spans == 1
    # doc 3: 6 window positions but "p q r s t" repeats -> 5 distinct
    # (repetition collapses), none cross-doc
    assert out[3].n_spans == 5 and out[3].dup_spans == 0
    assert out[4].n_spans == 0 and out[4].dup_span_frac == 0.0


def test_dup_span_stats_key_modes_agree(spark):
    """xxhash64 / md5 / raw span keys produce identical statistics (the
    key only changes the shuffle payload), and bad args fail loudly."""
    import pytest

    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        dup_span_stats,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 3} a b c d e f tail{i}") for i in range(12)],
        "doc_id long, text string",
    )
    ref = sorted(map(tuple, dup_span_stats(docs, w=4, span_key="raw").collect()))
    for mode in ("xxhash64", "md5"):
        got = sorted(map(tuple, dup_span_stats(docs, w=4, span_key=mode).collect()))
        assert got == ref, mode
    with pytest.raises(ValueError):
        dup_span_stats(docs, w=0)
    with pytest.raises(ValueError):
        dup_span_stats(docs, span_key="sha1")


def test_lm_bigram_score_hand_computed(spark):
    """Add-1 bigram LM on a 3-doc toy corpus, checked against a pure-
    Python reproduction of the model (counts, smoothing, quantized
    decimal accumulation)."""
    import math

    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        lm_bigram_score,
    )

    rows = [(1, "a b a b"), (2, "a b c"), (3, "solo"), (4, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in lm_bigram_score(docs, k=1).collect()}

    # model from scratch
    toks = {1: ["a", "b", "a", "b"], 2: ["a", "b", "c"], 3: ["solo"], 4: [""]}
    uni: dict[str, int] = {}
    big: dict[tuple[str, str], int] = {}
    for ts in toks.values():
        for t in ts:
            uni[t] = uni.get(t, 0) + 1
        for x, y in zip(ts, ts[1:]):
            big[(x, y)] = big.get((x, y), 0) + 1
    V = len(uni)
    def nll6(pair):
        p = (big[pair] + 1) / (uni[pair[0]] + V)
        return round(-math.log(p), 6)
    from decimal import Decimal

    for doc_id, ts in toks.items():
        pairs = list(zip(ts, ts[1:]))
        got = out[doc_id]
        assert got.n_bigrams == len(pairs)
        if pairs:
            s = sum(Decimal(str(nll6(p))) for p in pairs)
            assert got.nll_sum == pytest.approx(float(s), abs=2e-6)
            # avg is FLOOR-quantized at 6dp via exact integer division
            want_avg = int(s * 1_000_000) // len(pairs) / 1e6
            assert got.avg_nll == pytest.approx(want_avg, abs=2e-6)
        else:
            assert got.nll_sum == 0.0 and got.avg_nll == 0.0


def test_lm_bigram_score_orders_duplicates_low(spark):
    """A document made of the corpus's dominant transitions scores a
    lower avg_nll than one made of rare transitions."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        lm_bigram_score,
    )

    common = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(i, common) for i in range(10)]
        + [(100, common), (101, "zeta qoph xylem vug kwyjibo")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in lm_bigram_score(docs).collect()}
    assert out[100].avg_nll < out[101].avg_nll


def test_tfidf_keywords_ranking_and_stopwords(spark):
    """tf dominates within a doc; corpus-common terms are discounted by
    df; stopwords and empty tokens never appear."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        tfidf_keywords,
    )

    docs = spark.createDataFrame(
        [
            (1, "the apple apple apple banana shared"),
            (2, "banana banana cherry shared"),
            (3, "cherry date shared"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_keywords(docs, top_k=2).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.rk)):
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: apple tf=3 df=1 beats banana tf=1 df=2; "the" filtered
    assert [r.term for r in by_doc[1]] == ["apple", "banana"]
    assert by_doc[1][0].tf == 3 and by_doc[1][0].df == 1
    # "shared" df=3 discounts below any df=1 term with equal tf
    assert all(r.term != "the" for r in out)
    assert all(len(r_) <= 2 for r_ in by_doc.values())
    # score formula: tf * (N+1)/(df+1), N=3 docs
    assert by_doc[1][0].score == pytest.approx(3 * 4 / 2, abs=1e-6)


def test_source_quality_cap_keeps_best_and_caps(spark):
    """Each source keeps its cap best-quality docs; rank is contiguous
    from 1; higher-quality docs displace lower."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        quality_score,
        source_quality_cap,
    )

    # src A: 4 docs of increasing length (quality rises with tokens);
    # src B: 1 doc (under cap)
    rows = [
        (i, "tok " * (5 * (i + 1)), "A") for i in range(4)
    ] + [(10, "one two three", "B")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = source_quality_cap(docs, cap=2).collect()
    a = sorted([r for r in out if r.source == "A"], key=lambda r: r.rk)
    b = [r for r in out if r.source == "B"]
    assert len(a) == 2 and [r.rk for r in a] == [1, 2]
    assert len(b) == 1 and b[0].rk == 1
    q = {r.doc_id: r.quality for r in quality_score(docs).collect()}
    kept = {r.doc_id for r in a}
    dropped = {0, 1, 2, 3} - kept
    assert all(q[k] >= q[d] for k in kept for d in dropped)


def test_source_quality_cap_plan_group_limit(spark):
    """The rk <= cap filter must compile to WindowGroupLimit (map-side
    partial top-k below the source exchange) — the property that makes
    a skewed mega-source safe at scale."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        source_quality_cap,
        tfidf_keywords,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i}", f"s{i % 3}") for i in range(30)],
        "doc_id long, text string, source string",
    )
    plan = source_quality_cap(docs, cap=5)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    plan2 = tfidf_keywords(docs, top_k=3)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan2, plan2


def test_nb_classify_hand_computed(spark):
    """NB on a 4-doc, 2-class toy corpus, checked against a pure-Python
    reproduction (counts, add-1 smoothing, quantized decimal sums)."""
    import math
    from decimal import Decimal

    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        nb_classify,
    )

    rows = [
        (1, "spam spam offer", "junk"),
        (2, "offer spam now", "junk"),
        (3, "meeting notes agenda", "work"),
        (4, "agenda for meeting", "work"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in nb_classify(docs, label_col="source").collect()}

    toks = {i: t.split() for i, t, _ in rows}
    lbl = {i: c for i, _, c in rows}
    classes = sorted(set(lbl.values()))
    wc: dict[tuple[str, str], int] = {}
    tokc: dict[str, int] = {}
    for i, ts in toks.items():
        for t in ts:
            wc[(lbl[i], t)] = wc.get((lbl[i], t), 0) + 1
            tokc[lbl[i]] = tokc.get(lbl[i], 0) + 1
    V = len({t for (_, t) in wc})
    n_c = {c: sum(1 for v in lbl.values() if v == c) for c in classes}
    N = len(rows)

    def q6(x: float) -> Decimal:
        return Decimal(str(round(x, 6)))

    def score(i: int, c: str) -> Decimal:
        s = q6(math.log(n_c[c] / N))
        for t in toks[i]:
            p = (wc.get((c, t), 0) + 1) / (tokc[c] + V)
            s += q6(math.log(p))
        return s

    for i in toks:
        best = min(classes, key=lambda c: (-score(i, c), c))
        got = out[i]
        assert got.pred_label == best, (i, got)
        assert got.actual_label == lbl[i]
        assert got.is_correct == int(best == lbl[i])
        assert got.nb_score == pytest.approx(float(score(i, best)), abs=2e-6)
    # the toy corpus is separable: everything self-classifies
    assert all(out[i].is_correct == 1 for i in toks)


def test_gopher_rules_gates(spark):
    """Each gate trips on its own adversarial doc; the clean doc passes
    every gate."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        gopher_rules,
    )

    good = "the quick brown alpha beta gamma delta epsilon " * 5  # 40 words
    docs = spark.createDataFrame(
        [
            (1, good),                                   # passes all
            (2, "the of and short text here"),           # too few words
            (3, ("hyperlongwordform " * 40)),            # mean len > 5, no stops
            (4, ("x1 " * 40) + "the of"),                # fine but mwl < 3
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_rules(docs).collect()}
    assert out[1].passes == 1 and out[1].ok_words == 1 and out[1].ok_stop_hits == 1
    assert out[2].ok_words == 0 and out[2].passes == 0
    assert out[3].ok_mean_word_len == 0 and out[3].ok_stop_hits == 0
    assert out[4].ok_mean_word_len == 0 and out[4].passes == 0
    # signals are exact ratios
    assert out[2].n_words == 6 and out[2].n_stop_hits == 3


def test_nb_classify_keeps_zero_token_docs(spark):
    """All-delimiter / empty / NULL text docs keep a feature row: the
    prediction falls back to the prior argmax (class-name tie-break)."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        nb_classify,
    )

    rows = [
        (1, "spam spam offer", "junk"),
        (2, "offer spam now", "junk"),
        (3, "meeting notes agenda", "work"),
        (4, "!!! ...", "work"),    # all-delimiter -> Java split edge
        (5, None, "junk"),         # NULL text
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in nb_classify(docs, label_col="source").collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    # priors: junk 3/5, work 2/5 -> prior argmax is junk
    assert out[5].pred_label == "junk" and out[5].is_correct == 1
    # doc 4: '!!! ...' splits to [''] (leading empty KEPT) -> has one
    # token, so it scores through the model, not the prior fallback;
    # doc 5 (NULL) is the true zero-token path
    assert out[4].pred_label in ("junk", "work")
    import math
    assert out[5].nb_score == pytest.approx(round(math.log(3 / 5), 6), abs=2e-6)


def test_gopher_pass_filter_equals_rules_conjunction(spark):
    """The map-only filter keeps exactly the docs gopher_rules marks
    passes=1, preserving the input columns."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        gopher_pass_filter,
        gopher_rules,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown alpha beta gamma delta epsilon " * 5, "a"),
            (2, "the of and short", "b"),
            (3, "hyperlongwordform " * 40, "c"),
        ],
        "doc_id long, text string, source string",
    )
    want = {
        r.doc_id for r in gopher_rules(docs).filter("passes = 1").collect()
    }
    got = gopher_pass_filter(docs)
    assert set(got.columns) == {"doc_id", "text", "source"}
    assert {r.doc_id for r in got.collect()} == want
    # and truly join-free: no Join node in the physical plan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_lm_bigram_score_heldout_backoff(spark):
    """With a separate model slice, unseen bigrams price through the
    add-1 backoff: known head w1 -> 1/(c1+V); unknown head -> 1/V."""
    import math
    from decimal import Decimal

    model = spark.createDataFrame(
        [(100, "a b a b")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(1, "a b"), (2, "a zz"), (3, "qq rr")],
        "doc_id long, text string",
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        lm_bigram_score,
    )

    out = {
        r.doc_id: r
        for r in lm_bigram_score(score, k=1, model_docs=model).collect()
    }
    # model: tokens a b a b -> uni a:2 b:2, V=2; bigrams ab:2 ba:1
    V = 2
    def q6(x): return Decimal(str(round(x, 6)))
    # doc 1: (a,b) seen: p=(2+1)/(2+2)=0.75
    assert float(out[1].nll_sum) == pytest.approx(float(q6(-math.log(0.75))), abs=2e-6)
    # doc 2: (a,zz) unseen pair, known head a: p=1/(2+2)
    assert float(out[2].nll_sum) == pytest.approx(float(q6(-math.log(1/4))), abs=2e-6)
    # doc 3: (qq,rr) unknown head: p=1/V
    assert float(out[3].nll_sum) == pytest.approx(float(q6(-math.log(1/2))), abs=2e-6)
    # all docs kept, n_bigrams = 1 each
    assert all(out[i].n_bigrams == 1 for i in (1, 2, 3))


def test_lm_score_from_model_equals_inline_heldout(spark):
    """Scoring against the STORED model must equal the inline
    model_docs path on the same slice split — including backoff rows."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        lm_bigram_score,
        lm_score_from_model,
        save_lm_model,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    model_slice = docs.filter(docs.doc_id % 7 == 0)
    score_slice = docs.filter(docs.doc_id % 7 != 0)
    save_lm_model(model_slice, prefix="t_lm_model")
    want = sorted(
        map(tuple, lm_bigram_score(score_slice, model_docs=model_slice).collect())
    )
    got = sorted(
        map(tuple, lm_score_from_model(score_slice, prefix="t_lm_model").collect())
    )
    assert got == want and len(got) > 0


def test_vocab_coverage_minimal_prefix_and_exact_ppm(spark):
    """The in-vocab set is exactly the smallest frequency-head prefix
    reaching the ppm target; cum_ppm is the floor of an exact rational."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        vocab_coverage,
    )

    # term mass: a=5, b=3, c=2 (total 10)
    docs = spark.createDataFrame(
        [(1, "a a a b b"), (2, "a a b c c")],
        "doc_id long, text string",
    )
    rows = {
        r.term: r
        for r in vocab_coverage(docs, coverage_ppm=700000, max_vocab=10).collect()
    }
    assert rows["a"].rank == 1 and rows["a"].tf == 5 and rows["a"].cum_tf == 5
    assert rows["b"].rank == 2 and rows["b"].cum_tf == 8
    assert rows["c"].rank == 3 and rows["c"].cum_tf == 10
    assert rows["a"].total_tf == 10
    assert rows["a"].cum_ppm == 500000
    assert rows["b"].cum_ppm == 800000
    assert rows["c"].cum_ppm == 1000000
    # 70% target: a alone (50%) is not enough, a+b (80%) reaches it —
    # c starts at 80% >= 70%, so exactly {a, b} is in-vocab
    assert rows["a"].in_vocab and rows["b"].in_vocab and not rows["c"].in_vocab
    # boundary: target exactly at a prefix boundary (80%) — b is still
    # included (mass BEFORE b is 50% < 80%), c is not (80% >= 80%)
    rows8 = {
        r.term: r
        for r in vocab_coverage(docs, coverage_ppm=800000, max_vocab=10).collect()
    }
    assert rows8["b"].in_vocab and not rows8["c"].in_vocab


def test_vocab_coverage_tie_break_and_head_limit_plan(spark):
    """Equal-tf terms rank term-ascending; the head filter is pushed
    below the rank window as TakeOrderedAndProject (per-task top-k
    heaps — no global sort of the vocabulary), and the term-count
    shuffle runs exactly once (totals come from the map-only
    document-grain count, not a second term aggregation)."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        vocab_coverage,
    )

    docs = spark.createDataFrame(
        [(1, "zed apple zed apple mango")], "doc_id long, text string"
    )
    out = vocab_coverage(docs, max_vocab=2)
    rows = out.collect()
    assert [(r.rank, r.term) for r in sorted(rows, key=lambda r: r.rank)] == [
        (1, "apple"),
        (2, "zed"),
    ]  # tf tie at 2 -> term asc; mango (tf 1) cut by max_vocab
    plan = out._jdf.queryExecution().executedPlan().toString()
    # a finalized AQE plan prints Final + Initial sections — count only one
    plan = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject(limit=2" in plan, plan
    # exactly one explode + one term exchange: the doc-grain total
    # neither re-explodes the tokens nor re-shuffles the term counts
    assert plan.count("Generate explode") == 1, plan
    assert plan.count("Exchange hashpartitioning(term") == 1, plan


def test_term_drift_exact_numerators_and_rates(spark):
    """Hand-computed TVD numerators |tf_a*total_b - tf_b*total_a| and
    floor-ppm rates on a two-slice toy corpus."""
    from pyspark.sql import functions as F

    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        corpus_drift,
        term_drift,
    )

    docs = spark.createDataFrame(
        [
            (1, "x x y", "a"),
            (2, "x y y y", "b"),
        ],
        "doc_id long, text string, grp string",
    )
    rows = {
        r.term: r
        for r in term_drift(docs, F.col("grp") == "a", top_k=10).collect()
    }
    # slice a: x=2 y=1 (total 3); slice b: x=1 y=3 (total 4)
    assert rows["x"].tf_a == 2 and rows["x"].tf_b == 1
    assert int(rows["x"].drift_num) == abs(2 * 4 - 1 * 3)  # 5
    assert int(rows["y"].drift_num) == abs(1 * 4 - 3 * 3)  # 5
    assert rows["x"].rate_a_ppm == 2 * 1000000 // 3
    assert rows["x"].rate_b_ppm == 1000000 // 4
    # tie on drift_num -> term-asc rank
    assert rows["x"].rank == 1 and rows["y"].rank == 2
    cd = corpus_drift(docs, F.col("grp") == "a").collect()[0]
    # TVD = (5 + 5) / (2 * 3 * 4) = 10/24 -> floor ppm 416666
    assert cd.tvd_ppm == 10 * 500000 // 12
    assert cd.n_terms == 2 and cd.total_a == 3 and cd.total_b == 4


def test_corpus_drift_extremes(spark):
    """Identical distributions -> 0 ppm; disjoint vocabularies -> 1e6."""
    from pyspark.sql import functions as F

    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        corpus_drift,
    )

    same = spark.createDataFrame(
        [(1, "p q", "a"), (2, "p q", "b")],
        "doc_id long, text string, grp string",
    )
    assert corpus_drift(same, F.col("grp") == "a").collect()[0].tvd_ppm == 0
    disjoint = spark.createDataFrame(
        [(1, "p p", "a"), (2, "q r", "b")],
        "doc_id long, text string, grp string",
    )
    assert (
        corpus_drift(disjoint, F.col("grp") == "a").collect()[0].tvd_ppm
        == 1000000
    )


def test_drift_from_profile_equals_direct_tvd_with_complement(spark):
    """The stored-profile probe (analytic unmatched-term complement)
    equals corpus_drift's direct two-slice computation — exercised with
    batch-only AND profile-only vocabulary so the complement is
    non-trivial on both sides."""
    from pyspark.sql import functions as F

    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        corpus_drift,
        drift_from_profile,
        save_term_profile,
    )

    prof_docs = spark.createDataFrame(
        [(1, "alpha alpha beta gamma"), (2, "beta delta")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(3, "alpha novel novel"), (4, "beta unseen")],
        "doc_id long, text string",
    )
    save_term_profile(prof_docs, prefix="tp_test")
    got = drift_from_profile(batch, prefix="tp_test").collect()[0]
    want = corpus_drift(
        prof_docs.unionByName(batch), F.col("doc_id") >= 3
    ).collect()[0]
    assert got.tvd_ppm == want.tvd_ppm
    assert got.total_batch == want.total_a == 5
    assert got.total_profile == want.total_b == 6
    # matched = {alpha, beta}; novel/unseen are batch-only,
    # gamma/delta profile-only (covered by the analytic complement)
    assert got.n_batch_terms == 4 and got.matched_terms == 2


def test_drift_from_profile_tokenless_batch_is_null(spark):
    """A batch with no tokens has no distribution — tvd_ppm is NULL,
    not a division-by-zero error (ANSI mode)."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        drift_from_profile,
        save_term_profile,
    )

    save_term_profile(
        spark.createDataFrame([(1, "p q r")], "doc_id long, text string"),
        prefix="tp_empty",
    )
    row = drift_from_profile(
        spark.createDataFrame([(2, "...")], "doc_id long, text string"),
        prefix="tp_empty",
    ).collect()[0]
    assert row.tvd_ppm is None and row.total_batch == 0


def test_save_vocab_and_encode_order_oov_and_empty(spark):
    """save_vocab persists exactly the minimal coverage prefix (ids =
    frequency ranks); encode maps tokens in document order, OOV to UNK
    id 0, and token-less docs to empty arrays instead of vanishing."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        encode_with_vocab,
        save_vocab,
    )

    train = spark.createDataFrame(
        [(1, "a a b c"), (2, "a d")], "doc_id long, text string"
    )
    # mass: a=3, b=1, c=1, d=1 (total 6); 70% target -> before-b 50%,
    # before-c 66.7% both < 70% -> vocab {a:1, b:2, c:3}; d OOV
    save_vocab(train, prefix="v_apply", coverage_ppm=700000, max_vocab=10)
    vocab = {
        r.term: r.id for r in spark.read.table("v_apply_terms").collect()
    }
    assert vocab == {"a": 1, "b": 2, "c": 3}
    batch = spark.createDataFrame(
        [(10, "c b a a d"), (11, "..."), (12, "zz d")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in encode_with_vocab(batch, prefix="v_apply").collect()
    }
    assert list(rows[10].ids) == [3, 2, 1, 1, 0]  # document order kept
    assert rows[10].n_tokens == 5 and rows[10].n_unk == 1
    assert list(rows[11].ids) == [] and rows[11].n_tokens == 0
    assert list(rows[12].ids) == [0, 0] and rows[12].n_unk == 2


def test_encode_composes_with_pack_sequences(spark):
    """The tokenize -> layout composition: encode_with_vocab's n_tokens
    equals the token count pack_sequences chunks on, so the packed
    window assignment of the ids stream is consistent with the text
    stream's."""
    from pyspark.sql import functions as F

    from similarity_search_with_hadoop_mapreduce_spark.operators.sampling import (
        pack_sequences,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        encode_with_vocab,
        save_vocab,
    )

    docs = spark.createDataFrame(
        [(i, "w" + " tok" * (i % 5)) for i in range(1, 21)],
        "doc_id long, text string",
    )
    save_vocab(docs, prefix="v_pack", coverage_ppm=1000000, max_vocab=10)
    enc = encode_with_vocab(docs, prefix="v_pack").select(
        "doc_id", F.col("n_tokens").alias("enc_tokens"), "ids"
    )
    packed = pack_sequences(docs, max_tokens=8, n_shards=4).select(
        "doc_id", F.col("n_tokens").alias("pack_tokens")
    )
    j = enc.join(packed, "doc_id").collect()
    assert len(j) == 20
    for r in j:
        assert r.enc_tokens == len(r.ids)
        # pack_sequences chunked the SAME Java-split token stream the
        # encoder emitted ids for — window boundaries match the ids
        assert r.enc_tokens == r.pack_tokens


def test_chunk_documents_layout_and_edges(spark):
    """Exact chunk arithmetic: stride starts, clamped tail, single short
    chunk, token-less docs produce nothing; invalid overlap rejected."""
    import pytest as _pytest

    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # n=10, w=4, s=3
            (2, "a b"),  # single short chunk
            (3, "..."),  # token-less -> no rows
            (4, " ".join(f"x{i}" for i in range(4))),  # exactly w -> 1 chunk
        ],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, chunk_tokens=4, overlap_tokens=1).collect()
    by = {}
    for r in rows:
        by.setdefault(r.doc_id, []).append(r)
    for v in by.values():
        v.sort(key=lambda r: r.chunk_id)
    # k = (10 - 4 + 2) DIV 3 + 1 = 3; starts 0, 3, 6; full coverage
    assert [(r.start_token, r.n_tokens) for r in by[1]] == [
        (0, 4), (3, 4), (6, 4)
    ]
    assert by[1][1].chunk_text == "t3 t4 t5 t6"
    assert [(r.start_token, r.n_tokens, r.chunk_text) for r in by[2]] == [
        (0, 2, "a b")
    ]
    assert 3 not in by
    assert len(by[4]) == 1 and by[4][0].n_tokens == 4
    # every token is covered and consecutive chunks overlap by exactly 1
    assert by[1][0].chunk_text.split()[-1] == by[1][1].chunk_text.split()[0]
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap_tokens=4)


@settings(
    max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=0,
            max_size=25,
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=2, max_value=6),
    st.integers(min_value=0, max_value=4),
)
def test_property_chunk_documents_coverage(spark, token_lists, w, ov):
    """For ANY corpus and any valid (chunk, overlap): chunks start every
    stride tokens, consecutive chunks overlap by exactly `ov` tokens
    (except a clamped tail), every token is covered, and dropping each
    chunk's first `ov` tokens (after the first chunk) reconstructs the
    document exactly."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        chunk_documents,
    )

    if ov >= w:
        ov = w - 1
    s = w - ov
    docs = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(token_lists)],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, chunk_tokens=w, overlap_tokens=ov).collect()
    by: dict[int, list] = {}
    for r in rows:
        by.setdefault(r.doc_id, []).append(r)
    for i, toks in enumerate(token_lists):
        n = len(toks)
        chunks = sorted(by.get(i, []), key=lambda r: r.chunk_id)
        if n == 0:
            assert chunks == []
            continue
        want_k = 1 if n <= w else (n - w + s - 1) // s + 1
        assert len(chunks) == want_k
        rebuilt: list[str] = []
        for j, r in enumerate(chunks):
            assert r.start_token == j * s
            piece = r.chunk_text.split(" ") if r.chunk_text else []
            assert piece == toks[j * s : j * s + w]
            rebuilt.extend(piece if j == 0 else piece[ov:])
        assert rebuilt == toks  # lossless reconstruction


@settings(
    max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    st.lists(
        st.sampled_from(["p", "q", "r", "s", "t"]), min_size=1, max_size=30
    ),
    st.lists(
        st.sampled_from(["p", "q", "r", "s", "t"]), min_size=1, max_size=30
    ),
)
def test_property_corpus_drift_bounds_and_identity(spark, toks_a, toks_b):
    """0 <= TVD <= 1e6 ppm for any two slices; a slice vs itself is 0;
    and the ppm value matches an exact-fraction Python recomputation."""
    from fractions import Fraction

    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        corpus_drift,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(toks_a), "a"), (2, " ".join(toks_b), "b")],
        "doc_id long, text string, grp string",
    )
    got = corpus_drift(docs, F.col("grp") == "a").collect()[0].tvd_ppm
    assert 0 <= got <= 1000000
    from collections import Counter

    ca, cb = Counter(toks_a), Counter(toks_b)
    ta, tb = sum(ca.values()), sum(cb.values())
    tvd = Fraction(1, 2) * sum(
        abs(Fraction(ca[t], ta) - Fraction(cb[t], tb))
        for t in set(ca) | set(cb)
    )
    assert got == (tvd * 1000000).numerator // (tvd * 1000000).denominator
    same = spark.createDataFrame(
        [(1, " ".join(toks_a), "a"), (2, " ".join(toks_a), "b")],
        "doc_id long, text string, grp string",
    )
    assert corpus_drift(same, F.col("grp") == "a").collect()[0].tvd_ppm == 0


@settings(
    max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    st.lists(
        st.sampled_from(["u", "v", "w", "x", "y", "z"]),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=1, max_value=999999),
)
def test_property_vocab_coverage_minimality(spark, toks, cov_ppm):
    """The in-vocab set is ALWAYS the minimal frequency-head prefix
    whose mass reaches the target: every prefix strictly inside it is
    under the target, and the full in-vocab mass is >= the target."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        vocab_coverage,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(toks))], "doc_id long, text string"
    )
    rows = sorted(
        vocab_coverage(docs, coverage_ppm=cov_ppm, max_vocab=100).collect(),
        key=lambda r: r.rank,
    )
    total = rows[0].total_tf
    in_vocab = [r for r in rows if r.in_vocab]
    out_vocab = [r for r in rows if not r.in_vocab]
    assert in_vocab, "head must never be empty for a non-empty corpus"
    # boundary exactness: in-vocab rows start strictly under the target,
    # out-vocab rows start at or past it
    for r in in_vocab:
        assert (r.cum_tf - r.tf) * 1000000 < cov_ppm * total
    for r in out_vocab:
        assert (r.cum_tf - r.tf) * 1000000 >= cov_ppm * total
    # the selected prefix reaches the target (or is the whole vocab)
    if out_vocab:
        assert in_vocab[-1].cum_tf * 1000000 >= cov_ppm * total


def _remove_dup_spans_model(texts: dict[int, str], w: int):
    """Pure-Python model of remove_dup_spans: Java-split tokens, per-doc
    DISTINCT w-windows for the document frequency, ALL positions of a
    df>1 window covered, kept tokens re-joined in order."""
    toks = {d: java_split(t) for d, t in texts.items()}
    df: dict[str, set] = {}
    for d, ts in toks.items():
        for p in range(len(ts) - w + 1):
            df.setdefault(" ".join(ts[p : p + w]), set()).add(d)
    dup = {win for win, docs in df.items() if len(docs) > 1}
    out = {}
    for d, ts in toks.items():
        covered = set()
        for p in range(len(ts) - w + 1):
            if " ".join(ts[p : p + w]) in dup:
                covered.update(range(p, p + w))
        kept = [t for i, t in enumerate(ts) if i not in covered]
        out[d] = (" ".join(kept), len(kept), len(covered))
    return out


def test_remove_dup_spans_matches_python_model_random_corpora(spark):
    """Model equality on randomized small-alphabet corpora (the regime
    where window overlaps, within-doc repeats, and multi-doc sharing all
    interact): Spark's distributed plan must equal the brute-force
    Python model doc for doc."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        remove_dup_spans,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        corpus=st.lists(
            st.lists(
                st.sampled_from(["a", "b", "c", "d"]),
                min_size=0,
                max_size=12,
            ),
            min_size=2,
            max_size=6,
        )
    )
    def inner(corpus):
        texts = {i: " ".join(ts) for i, ts in enumerate(corpus)}
        docs = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {
            r.doc_id: (r.clean_text, r.n_kept, r.n_removed)
            for r in remove_dup_spans(docs, w=3, span_key="raw").collect()
        }
        want = _remove_dup_spans_model(texts, w=3)
        assert got == want, (got, want)

    inner()


def test_contamination_bloom_gate_equals_ungated_and_prunes(spark):
    """The bloom-gated decontamination is result-IDENTICAL to the
    ungated operator (no false negatives by construction, false
    positives killed by the exact join — forced here with a saturated
    64-bit bitmap), and the gate actually PRUNES: the rows that pay the
    exact join are a small fraction of the corpus gram stream."""
    from pyspark.sql import functions as F

    from similarity_search_with_hadoop_mapreduce_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )
    from similarity_search_with_hadoop_mapreduce_spark.functions.text import (
        ngrams_attr_sql,
        stage_tokens,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        benchmark_contamination,
        benchmark_contamination_bloom,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter("doc_id % 17 <> 0")
    bench = docs.filter("doc_id % 17 = 0")
    key = lambda r: (r.doc_id, r.n_hits, r.n_ngrams, round(r.hit_ratio, 9))  # noqa: E731
    want = sorted(map(key, benchmark_contamination(corpus, bench, n=3).collect()))
    for m_bits, k in ((1 << 16, 4), (64, 2)):  # honest and saturated
        got = sorted(map(key, benchmark_contamination_bloom(
            corpus, bench, n=3, m_bits=m_bits, k=k).collect()))
        assert got == want, (m_bits, k)

    # the saturated bitmap really admitted false positives (the exact
    # join had to kill them), while the honest one prunes ~19x: count
    # the gram stream entering the exact join under each bitmap
    bg = (
        stage_tokens(bench, "text", "doc_id")
        .select(F.explode(F.array_distinct(
            F.expr(ngrams_attr_sql("_toks", 3)))).alias("gram"))
        .distinct()
    )
    stream = stage_tokens(corpus, "text", "doc_id").select(
        F.explode(F.array_distinct(
            F.expr(ngrams_attr_sql("_toks", 3)))).alias("gram")
    )
    total = stream.count()
    true_hits = stream.join(bg, "gram").count()
    survivors = {}
    for m_bits, k in ((1 << 16, 4), (64, 2)):
        bloom = bloom_build(bg, "gram", m_bits=m_bits, k=k,
                            with_count=False)
        survivors[m_bits] = (
            bloom_probe(stream, bloom, "gram", m_bits=m_bits, k=k)
            .filter("bloom_hit").count()
        )
    assert survivors[64] > true_hits  # FPs existed and were killed
    assert survivors[1 << 16] >= true_hits  # no FN, ever
    assert survivors[1 << 16] < 0.2 * total  # the gate pays for itself
