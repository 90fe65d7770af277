"""The similarity operators' resident index against the Spark plans it
replaces and against the pure-Python reference (tests/reference_sim.py).

A Spark plan is forced by patching ``similarity._corpus_index`` to
report no index, the way the operators fall back when a corpus cannot
be indexed, and the multi-query plan's choice by patching
``similarity._BROADCAST_TERM_LIMIT``; there is no user-facing switch."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from similarity_search_with_hadoop_mapreduce_spark.operators import similarity as S
from similarity_search_with_hadoop_mapreduce_spark.plans import explain_string
from similarity_search_with_hadoop_mapreduce_spark.sources import tables as T
from tests.reference_sim import jaccard_similarity, mr_similarity, shingle_set
from tests.test_fixtures import SF

KS = (0, 1, 3, 10, 50)


def _corpus(spark, corpus: dict, id_type: str = "string"):
    return spark.createDataFrame(
        list(corpus.items()), f"doc_id {id_type}, text string"
    )


def _rows(df):
    return [(r.doc_id, r.query_id, r.score) for r in df.collect()]


def _spark_plan(monkeypatch, *args, **kwargs):
    """top_k_similar's Spark plan: the index gate forced off."""
    with monkeypatch.context() as m:
        m.setattr(S, "_corpus_index", lambda documents: None)
        df = S.top_k_similar(*args, **kwargs)
    # (Spark optimizes a limit of 0 into an empty local relation)
    assert "TakeOrderedAndProject" in explain_string(df) or kwargs["k"] == 0
    return df


def _indexed(*args, **kwargs):
    df = S.top_k_similar(*args, **kwargs)
    assert "LocalTableScan" in explain_string(df)
    return df


def _scores_spark_plan(monkeypatch, *args, **kwargs):
    """similarity_to_query's Spark plan: the index gate forced off."""
    with monkeypatch.context() as m:
        m.setattr(S, "_corpus_index", lambda documents: None)
        df = S.similarity_to_query(*args, **kwargs)
    assert "InMemoryTableScan" in explain_string(df)  # the resident sets
    return df


def _scores_indexed(*args, **kwargs):
    df = S.similarity_to_query(*args, **kwargs)
    assert "LocalTableScan" in explain_string(df)
    return df


def _multi_rows(df):
    return sorted(
        (r.doc_id, r.query_id, r.shared, r.containment, r.jaccard)
        for r in df.collect()
    )


def _multi_spark_plan(monkeypatch, docs, battery, shuffled: bool):
    """similarity_multi_query's Spark plan: the index gate forced off,
    and the broadcast limit set below or above any battery's terms."""
    with monkeypatch.context() as m:
        m.setattr(S, "_corpus_index", lambda documents: None)
        m.setattr(S, "_BROADCAST_TERM_LIMIT", -1 if shuffled else 2**62)
        df = S.similarity_multi_query(docs, battery)
    id_type = docs.schema["doc_id"].dataType.simpleString()
    # (a battery with no id in the id type's range has no key rows, and
    # Spark optimizes its plan into an empty local relation)
    if any(S._in_range(id_type, q) for q in battery):
        plan = explain_string(df)
        assert "InMemoryTableScan" in plan  # the resident sets
        assert ("ShuffledHashJoin" in plan) == shuffled
    return df


def _multi_indexed(docs, battery):
    df = S.similarity_multi_query(docs, battery)
    assert "LocalTableScan" in explain_string(df)
    return df


def _multi_reference(corpus, battery):
    """``(doc_id, query_id, shared, containment, jaccard)`` of every
    document sharing a trigram with a query of ``battery``, sorted."""
    rows = []
    for q in dict.fromkeys(battery):
        if q not in corpus:
            continue
        qset = shingle_set(corpus[q])
        for d, text in corpus.items():
            dset = shingle_set(text)
            shared = len(dset & qset)
            if d != q and shared:
                rows.append(
                    (d, str(q), shared, shared / len(qset), shared / len(dset | qset))
                )
    return sorted(rows)


def _check_multi(monkeypatch, docs, corpus, battery):
    """The index, both Spark plans and the reference answer ``battery``
    alike, with one schema; returns the answer."""
    got = _multi_indexed(docs, battery)
    want = _multi_reference(corpus, battery)
    assert _multi_rows(got) == want
    for shuffled in (False, True):
        plan = _multi_spark_plan(monkeypatch, docs, battery, shuffled)
        assert plan.schema == got.schema
        assert _multi_rows(plan) == want, shuffled
    return want


def _reference(corpus, q, k, mode, n=None):
    if q not in corpus:
        return []
    if mode == "jaccard":
        scores = jaccard_similarity(corpus, q)
    else:
        scores = _mr_with_n(corpus, q, n)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(d, str(q), s) for d, s in ranked]


def _mr_with_n(corpus, q, n):
    """reference_sim's parity scores with the prune's ``n`` given: pad
    the corpus with documents that share no shingle with anything."""
    if n is None or n == len(corpus):
        return mr_similarity(corpus, q)
    assert n > len(corpus)
    pad = {f"\x00pad{i}": "" for i in range(n - len(corpus))}
    return mr_similarity({**corpus, **pad}, q)


WORDS = ["alpha", "beta", "gamma", "delta", "eps", "x1"]


@st.composite
def corpora(draw):
    """Small corpora over a small vocabulary, so shared shingles, score
    ties and both prunes are common; texts include NULL, "" and fewer
    than three tokens."""
    n_docs = draw(st.integers(min_value=1, max_value=7))
    if draw(st.booleans()):
        ids = draw(
            st.lists(
                st.sampled_from(["my doc", "100%", "a", "b", "c", "d", "q", "z"]),
                min_size=n_docs, max_size=n_docs, unique=True,
            )
        )
        absent = "my%20doc"
    else:
        base = 2**40
        ids = draw(
            st.lists(st.integers(base, base + 20), min_size=n_docs,
                     max_size=n_docs, unique=True)
        )
        absent = base + 99
    corpus = {}
    for doc_id in ids:
        words = draw(st.lists(st.sampled_from(WORDS), max_size=9))
        corpus[doc_id] = None if draw(st.integers(0, 9)) == 0 else " ".join(words)
    q = draw(st.sampled_from(ids + [absent]))
    return corpus, q


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow, HealthCheck.function_scoped_fixture
    ],
)
@given(corpora(), st.sampled_from(KS), st.integers(-1, 2))
def test_index_equals_spark_plan_and_reference(spark, monkeypatch, case, k, extra):
    """Parity and jaccard, with ``total_documents`` unset, the count, or
    above it: ``top_k_similar`` and ``similarity_to_query`` answer from the
    index exactly what their Spark plans answer (top-k: rows and order;
    every score: the same rows, and the same schema) and what the
    reference computes."""
    corpus, q = case
    id_type = "string" if isinstance(q, str) else "bigint"
    docs = _corpus(spark, corpus, id_type)
    text = {d: t or "" for d, t in corpus.items()}  # NULL text: no shingles
    total = None if extra < 0 else len(corpus) + extra
    for mode in ("parity", "jaccard"):
        want = _rows(_spark_plan(monkeypatch, docs, q, k=k, mode=mode,
                                 total_documents=total))
        got = _rows(_indexed(docs, q, k=k, mode=mode, total_documents=total))
        assert got == want, (mode, k)
        assert got == _reference(text, q, k, mode, total), (mode, k)
        plan = _scores_spark_plan(monkeypatch, docs, q, mode=mode,
                                  total_documents=total)
        scores = _scores_indexed(docs, q, mode=mode, total_documents=total)
        assert scores.schema == plan.schema
        got = sorted(_rows(scores))
        assert got == sorted(_rows(plan)), mode
        assert got == _reference(text, q, len(corpus), mode, total), mode


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow, HealthCheck.function_scoped_fixture
    ],
)
@given(corpora(), st.lists(st.integers(0, 7), max_size=4))
def test_multi_query_index_equals_spark_plans_and_reference(
    spark, monkeypatch, case, picks
):
    """A battery of present, absent and repeated ids: ``similarity_multi_query``
    answers from the index exactly what its broadcast and shuffled Spark
    plans answer, with their schema, and what the reference computes."""
    corpus, q = case
    ids = list(corpus) + [q]  # q may be absent
    battery = [ids[i % len(ids)] for i in picks]
    docs = _corpus(spark, corpus, "string" if isinstance(q, str) else "bigint")
    text = {d: t or "" for d, t in corpus.items()}  # NULL text: no shingles
    _check_multi(monkeypatch, docs, text, battery)


TIES = {
    0: "one two three four five six",
    # 5 and 2 tie, as do 4 and 3: the lower doc_id comes first
    5: "one two three four five nine",
    2: "one two three four five nine",
    4: "one two three four seven",
    3: "one two three four seven",
    # "one two three" is in every document (df == n, pruned) and
    # "four five six" only in the query (df == 1, pruned)
    1: "one two three",
}


@pytest.mark.parametrize("k", KS)
def test_ties_and_prunes(spark, monkeypatch, k):
    docs = _corpus(spark, TIES, "bigint")
    for mode in ("parity", "jaccard"):
        got = _rows(_indexed(docs, 0, k=k, mode=mode))
        assert got == _rows(_spark_plan(monkeypatch, docs, 0, k=k, mode=mode))
        assert got == _reference(TIES, 0, k, mode)
    # doc 1 holds only the pruned "one two three": absent from parity
    parity = _rows(_indexed(docs, 0, k=10))
    assert [d for d, _, _ in parity] == [2, 5, 3, 4]
    assert parity[0][2] == parity[1][2] and parity[2][2] == parity[3][2]
    # with n above the count, "one two three" survives and doc 1 appears
    wide = _rows(_indexed(docs, 0, k=10, total_documents=7))
    assert 1 in {d for d, _, _ in wide}
    assert wide == _reference(TIES, 0, 10, "parity", 7)


def test_empty_corpus_and_short_texts(spark, monkeypatch):
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    for mode in ("parity", "jaccard"):
        assert _rows(_indexed(empty, 0, k=3, mode=mode)) == []
    assert _indexed(empty, 0, k=3).schema == _spark_plan(
        monkeypatch, empty, 0, k=3
    ).schema
    # a query with fewer than three tokens, or NULL text, scores nothing;
    # in jaccard, |D∪Q| is 0 for the empty query and the other empty set,
    # and that document is skipped, as the reference skips it
    texts = {"q": "two words", "n": None, "d": "two words here"}
    short = _corpus(spark, texts)
    text = {d: t or "" for d, t in texts.items()}
    for q in ("q", "n"):
        for mode in ("parity", "jaccard"):
            want = _reference(text, q, 3, mode)
            assert want == []
            assert _rows(_indexed(short, q, k=3, mode=mode)) == want
            assert _rows(_spark_plan(monkeypatch, short, q, k=3, mode=mode)) == want
        assert S.similarity_to_query(short, q, mode="jaccard").collect() == []


def test_string_and_large_ids(spark, monkeypatch):
    corpus = {
        "my doc": "the quick brown fox jumps over the lazy dog",
        "100%": "the quick brown fox sat down by the lazy dog",
        "other": "a quick brown fox jumps over the lazy dog today",
    }
    docs = _corpus(spark, corpus)
    for q in ("my doc", "100%"):
        got = _rows(_indexed(docs, q, k=10))
        assert got and got == _reference(corpus, q, 10, "parity")
        assert got == _rows(_spark_plan(monkeypatch, docs, q, k=10))
    for absent in ("my%20doc", "100%25", "nope"):
        assert _rows(_indexed(docs, absent, k=10)) == []
    big = {2**40 + i: t for i, t in enumerate(corpus.values())}
    docs = _corpus(spark, big, "bigint")
    got = _rows(_indexed(docs, 2**40 + 1, k=10, mode="jaccard"))
    assert got and got == _reference(big, 2**40 + 1, 10, "jaccard")
    assert got[0][0] >= 2**40
    assert _rows(_indexed(docs, 2**40 + 99, k=10)) == []


BIGINT_CORPUS = {
    0: "zero one two three four",
    1: "one two three four five",
    3: "two three four five six",
    4: "zero one two three four five",
}


@pytest.mark.parametrize("q", ["3", 3.7, True])
def test_mistyped_ids_raise_type_error(spark, q):
    """An id of another Python type than the corpus's would be cast by
    Spark ('3' and 3.7 to 3, True to 1) and answer for another document:
    every operator rejects it before it builds a plan or caches a set."""
    import numpy as np

    docs = _corpus(spark, BIGINT_CORPUS, "bigint")
    calls = (
        lambda q: S.top_k_similar(docs, q, k=10),
        lambda q: S.top_k_similar(docs, q, k=10, mode="jaccard"),
        lambda q: S.similarity_to_query(docs, q),
        lambda q: S.similarity_to_query(docs, q, mode="jaccard"),
        lambda q: S.similarity_multi_query(docs, [0, q]),
    )
    for call in calls:
        with pytest.raises(TypeError, match="query id"):
            call(q)
    assert docs not in T._resident_store  # no set cached, no index built
    # a numpy integer is an integer id
    assert _rows(S.top_k_similar(docs, np.int64(3), k=10)) == _rows(
        S.top_k_similar(docs, 3, k=10)
    )
    # and on a string corpus, only a str is an id
    strings = _corpus(spark, {str(d): t for d, t in BIGINT_CORPUS.items()})
    for bad in (3, np.int64(3), b"3", None):
        with pytest.raises(TypeError, match="query id"):
            S.top_k_similar(strings, bad, k=10)


INT_TYPES = (("tinyint", 8), ("smallint", 16), ("int", 32), ("bigint", 64))


def test_out_of_range_ids_answer_no_rows(spark, monkeypatch):
    """An integer outside the corpus's id type names no document: every
    operator answers it as an absent id, with no rows, in both modes,
    from the index and from the Spark plan, and a battery holding it
    scores its other ids as if it were not there."""
    for id_type, bits in INT_TYPES:
        half = 2 ** (bits - 1)
        docs = _corpus(spark, BIGINT_CORPUS, id_type)
        out = [-half - 1, half, 2**63, 10**40]
        # multi-query: the index, both Spark plans and the reference
        multi = _check_multi(monkeypatch, docs, BIGINT_CORPUS, [0])
        assert multi
        assert _check_multi(monkeypatch, docs, BIGINT_CORPUS, out) == []
        assert _check_multi(monkeypatch, docs, BIGINT_CORPUS, out + [0]) == multi
        for q in out:
            assert S._corpus_index(docs).row(q) == -1
            for mode in ("parity", "jaccard"):
                assert _rows(_indexed(docs, q, k=10, mode=mode)) == []
                with monkeypatch.context() as m:
                    m.setattr(S, "_corpus_index", lambda documents: None)
                    assert _rows(S.top_k_similar(docs, q, k=10, mode=mode)) == []
                assert S.similarity_to_query(docs, q, mode=mode).collect() == []


def test_invalid_k_raises_before_spark(spark):
    """``k`` is checked first: a non-integer (``bool`` included) raises
    ``TypeError`` and a negative one ``ValueError``, before any plan is
    built or set cached."""
    import numpy as np

    docs = _corpus(spark, BIGINT_CORPUS, "bigint")
    for k in (True, False, 2.0, None, "10", np.float64(10), np.bool_(True)):
        with pytest.raises(TypeError, match="k must be an integer"):
            S.top_k_similar(docs, 0, k=k)
    for k in (-1, np.int64(-1)):
        with pytest.raises(ValueError, match="k must not be negative"):
            S.top_k_similar(docs, 0, k=k)
    assert docs not in T._resident_store


def test_total_documents_checked_before_spark(spark, monkeypatch):
    """``total_documents`` follows ``k``'s rule: ``None`` or an integer
    in ``[0, 2**63)``. Another type raises ``TypeError`` and a value out
    of range ``ValueError``, from both operators, in both modes and on
    both top-k paths, before a plan is built or a set cached (the index
    used to skip the prune for ``'3'``, which the Spark plan cast to 3).
    A valid ``n`` below the count prunes alike on the index and the
    Spark plan."""
    import numpy as np

    docs = _corpus(spark, BIGINT_CORPUS, "bigint")

    def calls(n):
        for mode in ("parity", "jaccard"):
            yield lambda: S.similarity_to_query(docs, 0, mode=mode, total_documents=n)
            yield lambda: S.top_k_similar(docs, 0, k=10, mode=mode, total_documents=n)
            yield lambda: _spark_plan(
                monkeypatch, docs, 0, k=10, mode=mode, total_documents=n
            )

    for bad in ("3", True, 3.0, np.float64(3), np.bool_(True), b"3"):
        for call in calls(bad):
            with pytest.raises(TypeError, match="total_documents must be an integer"):
                call()
    for bad in (-1, np.int64(-1), 2**63, 2**70):
        for call in calls(bad):
            with pytest.raises(ValueError, match="total_documents must"):
                call()
    assert docs not in T._resident_store
    for n in (3, np.int64(3), 2**63 - 1):
        want = _rows(_spark_plan(monkeypatch, docs, 0, k=10, total_documents=n))
        assert _rows(_indexed(docs, 0, k=10, total_documents=n)) == want
        assert sorted(want) == sorted(
            _rows(S.similarity_to_query(docs, 0, total_documents=n))
        )
    # n = 3 prunes the shingles in three of the four documents
    assert _rows(_indexed(docs, 0, k=10, total_documents=3)) != _rows(
        _indexed(docs, 0, k=10)
    )


def test_every_valid_request_is_indexed(spark):
    """On an indexable corpus the index answers every valid request: an
    ``int`` or numpy ``k`` up to and past the Java int range, for a
    present, an absent and an out-of-range id, on every id type; no
    request plans the Spark plan's ``TakeOrderedAndProject``."""
    import numpy as np

    corpora = [(t, BIGINT_CORPUS, (0, 2, 2 ** (b - 1))) for t, b in INT_TYPES]
    strings = {str(d): t for d, t in BIGINT_CORPUS.items()}
    corpora.append(("string", strings, ("0", "2")))
    for id_type, corpus, ids in corpora:
        docs = _corpus(spark, corpus, id_type)
        for k in (0, 1, 10, 2**31):
            for kk in (k, np.int64(k)):
                for q in ids:
                    for mode in ("parity", "jaccard"):
                        df = _indexed(docs, q, k=kk, mode=mode)
                        assert "TakeOrderedAndProject" not in explain_string(df)
                        want = _reference(corpus, q, k, mode)
                        assert _rows(df) == want, (id_type, kk, q, mode)


@pytest.mark.parametrize(
    "rows",
    [
        # duplicate doc id: the Spark plan scores each row
        [(0, "a b c d e"), (1, "a b c d x"), (1, "b c d e f"), (2, "c d e f g")],
        # NULL doc id
        [(0, "a b c d e"), (None, "a b c d x"), (2, "b c d e f")],
    ],
)
def test_unindexable_corpora_take_the_spark_plan(spark, monkeypatch, rows):
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    for mode in ("parity", "jaccard"):
        df = S.top_k_similar(docs, 0, k=10, mode=mode)
        assert "TakeOrderedAndProject" in explain_string(df)
        got = _rows(df)
        assert got and got == _rows(_spark_plan(monkeypatch, docs, 0, k=10,
                                                mode=mode))
    assert T._resident_store[docs].values["index"] is False  # decided once


def test_index_above_the_driver_budget_is_not_built(spark, monkeypatch):
    docs = _corpus(spark, BIGINT_CORPUS, "bigint")
    monkeypatch.setattr(S, "_fits_driver", lambda spark, set_bytes: False)
    df = S.top_k_similar(docs, 0, k=10)
    assert "TakeOrderedAndProject" in explain_string(df)
    assert _rows(df) == _reference(BIGINT_CORPUS, 0, 10, "parity")
    assert T._resident_store[docs].values["index"] is False


def test_warm_request_runs_no_job(spark):
    """After the first request builds the index, a request for another id
    plans a local relation and collects it without a Spark job."""
    from similarity_search_with_hadoop_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    S.top_k_similar(docs, 0, k=10).collect()
    sc = spark.sparkContext
    sc.setJobGroup("topk-warm", "warm top-k request")
    try:
        rows = S.top_k_similar(docs, 5, k=10).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 10
    assert list(sc.statusTracker().getJobIdsForGroup("topk-warm")) == []


def test_index_build_is_the_only_job(spark):
    """On an indexable corpus, ``top_k_similar`` and then
    ``similarity_to_query`` in both modes run one Spark job between them,
    the index build's scan, and persist nothing: no shingle sets are made
    and no RDD is cached."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")  # no index yet
    sc = spark.sparkContext
    cached = sc._jsc.sc().getPersistentRDDs().size()
    sc.setJobGroup("index-build", "first requests on a corpus")
    try:
        top = _rows(S.top_k_similar(docs, 0, k=10))
        parity = _rows(S.similarity_to_query(docs, 0))
        jaccard = _rows(S.similarity_to_query(docs, 3, mode="jaccard"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("index-build")) == 1
    assert sc._jsc.sc().getPersistentRDDs().size() == cached
    assert "shingle_sets" not in T._resident_store[docs].values
    assert len(top) == 10 and jaccard
    assert top == sorted(parity, key=lambda r: (-r[2], r[0]))[:10]


def test_concurrent_first_requests_build_once(spark, monkeypatch):
    """Requests racing on a corpus with no index yet build it once, under
    the corpus entry's lock, and all answer from it."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    docs = _corpus(spark, TIES, "bigint")
    builds = []
    build = S._build_index

    def counted(documents):
        builds.append(documents)
        return build(documents)

    monkeypatch.setattr(S, "_build_index", counted)
    ids = [0, 5, 2, 4] * 3
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [
                pool.submit(lambda q: _rows(S.top_k_similar(docs, q, k=10)), q)
                for q in ids
            ]
            answers = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert len(builds) == 1
    for q, got in zip(ids, answers):
        assert got == _reference(TIES, q, 10, "parity"), q


HOSTILE_IDS = [
    "a'b", "back\\slash", "x:y", "?", "${v}", "new\nline", "", 'q"', "--c",
    "/*x*/", "日本",
]


def test_hostile_string_ids(spark, monkeypatch):
    """String ids reach SQL text only as hex literals: ids holding quotes,
    backslashes, marker and comment syntax, a newline, the empty string or
    non-ASCII text answer, and label, exactly as the Spark plan does."""
    corpus = {
        q: f"one two three four five w{i % 3} six seven eight"
        for i, q in enumerate(HOSTILE_IDS)
    }
    docs = _corpus(spark, corpus)
    for q in HOSTILE_IDS:
        for mode in ("parity", "jaccard"):
            got = _rows(_indexed(docs, q, k=10, mode=mode))
            assert got and got == _reference(corpus, q, 10, mode), (q, mode)
            assert got == _rows(_spark_plan(monkeypatch, docs, q, k=10, mode=mode))
    multi = _check_multi(monkeypatch, docs, corpus, HOSTILE_IDS)
    assert {query_id for _, query_id, *_ in multi} == set(HOSTILE_IDS)


@pytest.mark.parametrize("id_type, bits", INT_TYPES)
def test_integer_id_extremes(spark, monkeypatch, id_type, bits):
    lo, hi = -(2 ** (bits - 1)), 2 ** (bits - 1) - 1
    ids = [lo, lo + 1, 0, hi - 1, hi]
    corpus = {q: f"one two three four w{i % 2} five six" for i, q in enumerate(ids)}
    docs = _corpus(spark, corpus, id_type)
    for q in (lo, hi):
        for mode in ("parity", "jaccard"):
            got = _rows(_indexed(docs, q, k=10, mode=mode))
            assert got and got == _reference(corpus, q, 10, mode), (q, mode)
            assert got == _rows(_spark_plan(monkeypatch, docs, q, k=10, mode=mode))


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow, HealthCheck.function_scoped_fixture
    ],
)
@given(st.lists(st.floats(0.0, 1.0, exclude_min=True), max_size=len(TIES)))
def test_scores_round_trip_bit_for_bit(spark, monkeypatch, scores):
    """Whatever doubles in (0, 1] the index scores, subnormals included,
    the answer frame returns the same bits."""
    import struct

    docs = _corpus(spark, TIES, "bigint")
    ids = sorted(TIES)[: len(scores)]
    with monkeypatch.context() as m:
        m.setattr(S._CorpusIndex, "top_k", lambda *a: (ids, scores))
        rows = _indexed(docs, 0, k=10).collect()
    assert [r.doc_id for r in rows] == ids
    bits = [struct.pack("<d", s) for s in scores]
    assert [struct.pack("<d", r.score) for r in rows] == bits


def test_answer_schema(spark, monkeypatch):
    """The index's answer has the Spark plan's schema, nullability
    included, for a full and an empty answer."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    def schema(id_type):
        return StructType([
            StructField("doc_id", id_type, True),
            StructField("query_id", StringType(), False),
            StructField("score", DoubleType(), True),
        ])

    for docs, q, id_type in (
        (_corpus(spark, TIES, "bigint"), 0, LongType()),
        (_corpus(spark, {str(d): t for d, t in TIES.items()}), "0", StringType()),
    ):
        for k in (0, 10):
            assert _indexed(docs, q, k=k).schema == schema(id_type)
        assert _spark_plan(monkeypatch, docs, q, k=10).schema == schema(id_type)


def test_answer_frame_py4j_commands_constant_in_k(spark, monkeypatch):
    """Building a warm top-k answer sends the same few Py4J commands for
    k=1 and k=50: the answer rows travel as one SQL text, not one bound
    value each. Only this thread's commands count: Py4J's finalizer
    thread sends the deletes of collected objects whenever it runs."""
    import threading

    corpus = {i: f"one two three four x{i} y{i}" for i in range(60)}
    docs = _corpus(spark, corpus, "bigint")
    n = len(corpus) + 1  # "one two three" and "two three four" survive
    S.top_k_similar(docs, 0, k=1, total_documents=n).collect()  # builds
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []
    me = threading.get_ident()

    def counted(*args, **kwargs):
        if threading.get_ident() == me:
            sent.append(args)
        return send(*args, **kwargs)

    counts = {}
    for k in (1, 50):
        sent.clear()
        with monkeypatch.context() as m:
            m.setattr(client, "send_command", counted)
            df = S.top_k_similar(docs, 7, k=k, total_documents=n)
        counts[k] = len(sent)
        assert len(df.collect()) == k
    assert counts[1] == counts[50] <= 6, counts


def test_multi_query_edge_batteries(spark, monkeypatch):
    """Bigint and string corpora, batteries of absent, out-of-range,
    repeated and hostile ids, and the empty battery: the index, both
    Spark plans and the reference answer alike."""
    base = 2**40
    big = {base + d: t for d, t in BIGINT_CORPUS.items()}
    hostile = {
        q: f"one two three four five w{i % 3} six seven eight"
        for i, q in enumerate(HOSTILE_IDS)
    }
    cases = (
        ("bigint", big, [base, base, base + 3, 2**63, -(2**63) - 1, 0, base + 1]),
        ("bigint", big, [base + 99, 2**63]),
        ("string", hostile, HOSTILE_IDS + ["a'b", "nope", "", "my%20doc"]),
    )
    for id_type, corpus, battery in cases:
        docs = _corpus(spark, corpus, id_type)
        want = _check_multi(monkeypatch, docs, corpus, battery)
        assert bool(want) == any(q in corpus for q in battery)
        assert _check_multi(monkeypatch, docs, corpus, []) == []


def test_multi_query_answer_schema(spark, monkeypatch):
    """The index's multi-query answer has the Spark plans' schema,
    nullability included (``shared`` is a count, NOT NULL), on every id
    type, for a full and an empty battery."""
    from pyspark.sql.types import (
        ByteType, DoubleType, IntegerType, LongType, ShortType, StringType,
        StructField, StructType,
    )

    def schema(id_type):
        return StructType([
            StructField("doc_id", id_type, True),
            StructField("query_id", StringType(), True),
            StructField("shared", LongType(), False),
            StructField("containment", DoubleType(), True),
            StructField("jaccard", DoubleType(), True),
        ])

    types = {"tinyint": ByteType(), "smallint": ShortType(), "int": IntegerType(),
             "bigint": LongType()}
    cases = [(_corpus(spark, TIES, t), [0, 5], types[t]) for t in types]
    strings = {str(d): t for d, t in TIES.items()}
    cases.append((_corpus(spark, strings), ["0", "5"], StringType()))
    for docs, battery, id_type in cases:
        for b in ([], battery):
            assert _multi_indexed(docs, b).schema == schema(id_type)
        for shuffled in (False, True):
            plan = _multi_spark_plan(monkeypatch, docs, battery, shuffled)
            assert plan.schema == schema(id_type)


def test_multi_query_first_request_is_the_index_build(spark, monkeypatch):
    """On a fresh indexable corpus, a first ``similarity_multi_query``
    runs one Spark job, the index build's scan, and persists nothing: no
    shingle sets, no probe, no cached RDD. Its answer is the Spark
    plans'."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")  # no index yet
    sc = spark.sparkContext
    cached = sc._jsc.sc().getPersistentRDDs().size()
    sc.setJobGroup("multi-first", "first multi-query request on a corpus")
    try:
        df = _multi_indexed(docs, [0, 3, 5, 3])
        got = _multi_rows(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("multi-first")) == 1
    assert sc._jsc.sc().getPersistentRDDs().size() == cached
    values = T._resident_store[docs].values
    assert "shingle_sets" not in values and "multi_query_probe" not in values
    assert {r[1] for r in got} == {"0", "3", "5"}
    for shuffled in (False, True):
        plan = _multi_spark_plan(monkeypatch, docs, [0, 3, 5], shuffled)
        assert _multi_rows(plan) == got


def test_multi_query_large_answer_runs_the_spark_plan(spark, monkeypatch):
    """A battery whose answer passes ``_LITERAL_ROW_LIMIT`` rows runs the
    Spark plan on an indexable corpus, and the index stops counting once
    it knows: answer rows are never all built as literals. At the limit
    the index answers; one row above it, the Spark plan does, with the
    same rows."""
    corpus = {i: f"one two three four w{i} x{i}" for i in range(120)}
    docs = _corpus(spark, corpus, "bigint")
    battery = list(range(90))  # every pair shares "one two three"
    rows = len(battery) * (len(corpus) - 1)
    assert rows > S._LITERAL_ROW_LIMIT
    counts = []
    overlaps = S._CorpusIndex.overlaps

    def counted(self, row):
        counts.append(row)
        return overlaps(self, row)

    with monkeypatch.context() as m:
        m.setattr(S._CorpusIndex, "overlaps", counted)
        big = S.similarity_multi_query(docs, battery)
    assert len(counts) == S._LITERAL_ROW_LIMIT // (len(corpus) - 1) + 1
    assert "InMemoryTableScan" in explain_string(big)  # the resident sets
    want = _multi_reference(corpus, battery)
    assert len(want) == rows and _multi_rows(big) == want
    small = battery[:3]
    with monkeypatch.context() as m:
        m.setattr(S, "_LITERAL_ROW_LIMIT", 3 * (len(corpus) - 1))
        at = _multi_indexed(docs, small)
        m.setattr(S, "_LITERAL_ROW_LIMIT", 3 * (len(corpus) - 1) - 1)
        above = S.similarity_multi_query(docs, small)
    assert "InMemoryTableScan" in explain_string(above)
    assert above.schema == at.schema
    assert _multi_rows(above) == _multi_rows(at) == _multi_reference(corpus, small)
