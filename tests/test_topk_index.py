"""top_k_similar's resident index against the Spark plan it replaces and
against the pure-Python reference (tests/reference_sim.py).

The Spark plan is forced by patching ``similarity._corpus_index`` to
report no index, the way the operator falls back when a corpus cannot
be indexed; there is no user-facing switch."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from similarity_search_with_hadoop_mapreduce_spark.operators import similarity as S
from similarity_search_with_hadoop_mapreduce_spark.plans import explain_string
from similarity_search_with_hadoop_mapreduce_spark.sources import tables as T
from tests.reference_sim import jaccard_similarity, mr_similarity
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
        multi = sorted(S.similarity_multi_query(docs, [0]).collect())
        assert multi
        for q in (-half - 1, half, 2**63, 10**40):
            assert S._corpus_index(docs).row(q) == -1
            for mode in ("parity", "jaccard"):
                assert _rows(_indexed(docs, q, k=10, mode=mode)) == []
                with monkeypatch.context() as m:
                    m.setattr(S, "_corpus_index", lambda documents: None)
                    assert _rows(S.top_k_similar(docs, q, k=10, mode=mode)) == []
                assert S.similarity_to_query(docs, q, mode=mode).collect() == []
            assert S.similarity_multi_query(docs, [q]).collect() == []
            assert sorted(S.similarity_multi_query(docs, [q, 0]).collect()) == multi


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
    multi = S.similarity_multi_query(docs, HOSTILE_IDS).collect()
    assert {r.query_id for r in multi} == set(HOSTILE_IDS)


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
