"""Flagship parity: Spark pipeline vs the pure-Python MR harness
(tests/reference_sim.py), including the SURVEY §2.3 quirks and §5.2
edge cases."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from similarity_search_with_hadoop_mapreduce_spark.operators.similarity import (
    similarity_to_query,
    top_k_similar,
)
from tests.reference_sim import jaccard_similarity, mr_similarity, shingle_set


def _corpus_df(spark, corpus: dict[str, str]):
    return spark.createDataFrame(
        [(k, v) for k, v in corpus.items()], "doc_id string, text string"
    )


def _spark_scores(spark, corpus, query_id="q", mode="parity"):
    df = similarity_to_query(
        _corpus_df(spark, corpus), query_doc_id=query_id, mode=mode
    )
    return {r.doc_id: r.score for r in df.collect()}


def _check(spark, corpus, query_id="q"):
    got = _spark_scores(spark, corpus, query_id)
    want = mr_similarity(corpus, query_id)
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-12), (k, got[k], want[k])


TOY = {
    "q": "the quick brown fox jumps over the lazy dog",
    "a": "the quick brown fox sat down by the river",
    "b": "a quick brown fox jumps over fences all day",
    "c": "completely different text with no shared words at all",
    "d": "the quick brown fox jumps over the lazy dog again today",
}


def test_toy_corpus_parity(spark):
    _check(spark, TOY)


def test_containment_equality_when_nothing_pruned(spark):
    # No shingle appears in every doc and every shared shingle appears in
    # >= 2 docs => score must equal containment |D∩Q|/|Q| exactly (Q2).
    got = _spark_scores(spark, TOY)
    q = shingle_set(TOY["q"])
    for doc in ("a", "b", "d"):
        inter = len(shingle_set(TOY[doc]) & q)
        # only docs whose every shared shingle survives the df prune
        want = mr_similarity(TOY, "q")[doc]
        if math.isclose(want, inter / len(q)):
            assert math.isclose(got[doc], inter / len(q))


def test_zero_overlap_absent_not_zero(spark):
    got = _spark_scores(spark, TOY)
    assert "c" not in got  # Q3


def test_query_shorter_than_three_tokens_empty_result(spark):
    corpus = dict(TOY, q="two words")
    assert _spark_scores(spark, corpus) == {}  # Q3


def test_doc_shorter_than_three_tokens_absent(spark):
    corpus = dict(TOY, a="hi there")
    got = _spark_scores(spark, corpus)
    assert "a" not in got
    _check(spark, corpus)


def test_leading_punctuation_token_parity(spark):
    # Q6: text starting with a non-word char keeps a leading empty token,
    # producing a shingle that begins with an empty word.
    corpus = {
        "q": '"start of a quoted query text here',
        "a": '"start of a quoted document body here',
        "b": "start of a plain document body here",
        "c": "filler text so the corpus has some bulk",
    }
    _check(spark, corpus)


def test_all_docs_share_a_shingle_prune_fires(spark):
    # A shingle present in every file (incl. the query) is dropped by the
    # df == n prune, lowering scores below containment (Q2/O4).
    common = "alpha beta gamma"
    corpus = {
        "q": f"{common} delta epsilon zeta",
        "a": f"{common} delta epsilon other words here",
        "b": f"{common} totally unrelated tail of text",
        "c": f"{common} another unrelated document body",
    }
    _check(spark, corpus)
    want = mr_similarity(corpus, "q")
    q_len = len(shingle_set(corpus["q"]))
    inter_a = len(shingle_set(corpus["a"]) & shingle_set(corpus["q"]))
    assert want["a"] < inter_a / q_len  # prune really lowered it


def test_case_sensitivity(spark):
    corpus = {
        "q": "The Quick Brown fox jumps high",
        "a": "the quick brown fox jumps high",  # differs in case
        "b": "The Quick Brown fox runs home",
        "c": "some other padding document text here",
    }
    _check(spark, corpus)
    got = _spark_scores(spark, corpus)
    # 'a' shares no case-exact trigram with q except none -> absent or low
    assert got == {k: v for k, v in mr_similarity(corpus, "q").items()}


def test_single_doc_plus_query(spark):
    # n == 2: every shared term has df == 2 == n -> pruned -> empty output.
    corpus = {
        "q": "one two three four five",
        "a": "one two three four five",
    }
    assert _spark_scores(spark, corpus) == {}
    _check(spark, corpus)


def test_identical_docs_score_one_when_not_pruned(spark):
    corpus = {
        "q": "one two three four five",
        "a": "one two three four five",
        "b": "one two three nine ten",
        "c": "unrelated padding words for the corpus",
    }
    _check(spark, corpus)
    got = _spark_scores(spark, corpus)
    assert math.isclose(got["a"], 1.0)  # containment 3/3 survives


def test_jaccard_mode(spark):
    got = _spark_scores(spark, TOY, mode="jaccard")
    want = jaccard_similarity(TOY, "q")
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-12)


def test_top_k(spark):
    df = top_k_similar(_corpus_df(spark, TOY), query_doc_id="q", k=2)
    rows = df.collect()
    want = sorted(
        mr_similarity(TOY, "q").items(), key=lambda kv: (-kv[1], kv[0])
    )[:2]
    assert [(r.doc_id, pytest.approx(r.score)) for r in rows] == [
        (k, pytest.approx(v)) for k, v in want
    ]


def test_invalid_mode_raises(spark):
    with pytest.raises(ValueError):
        similarity_to_query(_corpus_df(spark, TOY), "q", mode="bogus")


WORDS = ["alpha", "beta", "gamma", "delta", "Epsilon", "zeta", "x1", ""]


@st.composite
def corpora(draw):
    n_docs = draw(st.integers(min_value=2, max_value=6))
    docs = {}
    for i in range(n_docs):
        words = draw(
            st.lists(st.sampled_from(WORDS), min_size=0, max_size=12)
        )
        docs[f"d{i}"] = " ".join(words)
    docs["q"] = docs.pop("d0")
    return docs


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(corpora())
def test_property_parity_random_corpora(spark, corpus):
    _check(spark, corpus)
    # invariants: scores in (0, 1]; absence <=> zero surviving overlap
    for v in _spark_scores(spark, corpus).values():
        assert 0.0 < v <= 1.0


def test_multi_query_consistent_with_single_query_jaccard(spark, monkeypatch):
    """similarity_multi_query's jaccard column must equal the flagship's
    jaccard mode per query (same |D∩Q| / |D∪Q|, no pruning quirks), and
    its containment column must equal |D∩Q| / |Q| from the harness: the
    answer from the index, and from both Spark plans (forced by
    reporting no index, and the broadcast limit)."""
    from similarity_search_with_hadoop_mapreduce_spark.operators import (
        similarity as S,
    )

    corpus = {
        "q": "the quick brown fox jumps over the lazy dog",
        "d1": "the quick brown fox runs far away from here today",
        "d2": "a completely different set of words with no overlap at all",
        "d3": "the quick brown fox jumps over the lazy dog exactly",
    }
    df = _corpus_df(spark, corpus)

    def answer():
        return {
            (r.doc_id, r.query_id): (r.containment, r.jaccard)
            for r in S.similarity_multi_query(df, ["q", "d1"]).collect()
        }

    multi = answer()
    for limit in (S._BROADCAST_TERM_LIMIT, -1):
        with monkeypatch.context() as m:
            m.setattr(S, "_corpus_index", lambda documents: None)
            m.setattr(S, "_BROADCAST_TERM_LIMIT", limit)
            assert answer() == multi, limit
    for qid in ("q", "d1"):
        single = _spark_scores(spark, corpus, query_id=qid, mode="jaccard")
        multi_q = {d: j for (d, q), (_, j) in multi.items() if q == qid}
        assert multi_q == single
        qset = shingle_set(corpus[qid])
        for d, (cont, _) in ((d, v) for (d, q), v in multi.items() if q == qid):
            inter = len(shingle_set(corpus[d]) & qset)
            assert math.isclose(cont, inter / len(qset), rel_tol=1e-12)


def test_multi_query_shuffled_fallback_equals_broadcast_plan(spark, monkeypatch):
    """Above the broadcast-term limit the operator's Spark plan switches
    to the shuffled join; a forced-low limit pins exact result equality
    of the two physical plans on the same batch, and of both with the
    index's answer. The Spark plan is forced by reporting no index."""
    from similarity_search_with_hadoop_mapreduce_spark.operators import (
        similarity as S,
    )
    from similarity_search_with_hadoop_mapreduce_spark.plans import explain_string

    corpus = {
        "q": "the quick brown fox jumps over the lazy dog",
        "q2": "pack my box with five dozen liquor jugs today friend",
        "d1": "the quick brown fox runs far away from here today",
        "d2": "a completely different set of words with no overlap at all",
        "d3": "the quick brown fox jumps over the lazy dog exactly",
        "d4": "pack my box with five dozen liquor jugs",
    }
    df = _corpus_df(spark, corpus)
    key = lambda r: (
        r.doc_id, r.query_id, r.shared,
        round(r.containment, 12), round(r.jaccard, 12),
    )
    indexed = sorted(map(key, S.similarity_multi_query(df, ["q", "q2"]).collect()))
    with monkeypatch.context() as m:
        m.setattr(S, "_corpus_index", lambda documents: None)
        broad_df = S.similarity_multi_query(df, ["q", "q2"])
        m.setattr(S, "_BROADCAST_TERM_LIMIT", 1)
        shuf_df = S.similarity_multi_query(df, ["q", "q2"])
    assert "ShuffledHashJoin" not in explain_string(broad_df)
    assert "ShuffledHashJoin" in explain_string(shuf_df)
    broad = sorted(map(key, broad_df.collect()))
    shuf = sorted(map(key, shuf_df.collect()))
    assert broad == shuf and broad
    assert indexed == broad
