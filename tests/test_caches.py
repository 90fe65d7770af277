"""Cache-invalidation and literal-guard behavior.

The invalidation policy lives in ONE place — ``load_table`` keys on the
parquet fingerprint, so an in-place fixture rewrite yields a fresh
DataFrame object, and the one resident store (``sources.tables.resident``:
fan-out targets, span probes, similarity's shingle sets and top-k index,
the ANN layouts) starts clean for it, while the superseded vintage's
values are released. When a frame is garbage-collected, the store's
finalizer unpersists the DataFrames among its values, such as a corpus's
shingle sets.
"""

from __future__ import annotations

import gc
import math
import os
import shutil
import weakref

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tmp_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("sfcopy")
    for t in ("region", "embeddings"):
        shutil.copy(f"{SF}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


def _rewrite(path: str) -> None:
    """In-place rewrite: same bytes, new mtime_ns (the fingerprint)."""
    data = open(path, "rb").read()
    with open(path, "wb") as f:
        f.write(data)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))


def test_load_table_rewrite_yields_fresh_object(spark, tmp_sf):
    from similarity_search_with_hadoop_mapreduce_spark.sources.tables import load_table

    a = load_table(spark, tmp_sf, "region")
    assert load_table(spark, tmp_sf, "region") is a  # cached
    _rewrite(f"{tmp_sf}/region.parquet")
    b = load_table(spark, tmp_sf, "region")
    assert b is not a  # fingerprint changed -> fresh DataFrame object
    assert load_table(spark, tmp_sf, "region") is b


def test_table_cache_evicts_superseded_vintage(spark, tmp_sf):
    from similarity_search_with_hadoop_mapreduce_spark.sources import tables as T

    T.load_table(spark, tmp_sf, "region")
    _rewrite(f"{tmp_sf}/region.parquet")
    T.load_table(spark, tmp_sf, "region")
    cache = T._table_cache[spark]
    vintages = [k for k in cache if k[:2] == (tmp_sf, "region")]
    assert len(vintages) == 1  # the stale vintage was evicted, not kept


def test_span_memo_invalidated_by_rewrite(spark, tmp_sf):
    """The span probe is a resident value of the load_table frame, so it
    follows load_table's fingerprint: a rewritten fixture cannot serve a
    stale span, and the superseded frame's values are released."""
    from similarity_search_with_hadoop_mapreduce_spark.sources import tables as T

    emb = T.load_table(spark, tmp_sf, "embeddings")
    assert T.resident(emb, ("span", "ts"), lambda: "SENTINEL") == "SENTINEL"
    _rewrite(f"{tmp_sf}/embeddings.parquet")
    emb2 = T.load_table(spark, tmp_sf, "embeddings")
    assert T.resident(emb2, ("span", "ts"), lambda: "fresh") == "fresh"
    assert emb not in T._resident_store


def test_ivf_serve_cache_unpersists_stale(spark, tmp_sf):
    """After an in-place rewrite of ``embeddings``, the superseded
    vintage's persisted ANN layouts are unpersisted, and the next entry
    builds fresh ones for the new frame. The fresh ones stay cached when
    the old frame, which a caller held through the rewrite, is collected
    (Spark's cache matches plans, so old and new layouts share cache
    entries, and a late finalizer of the old frame would drop them)."""
    from similarity_search_with_hadoop_mapreduce_spark.registry import ann as R

    assigned = R._ivf_index(spark, tmp_sf)
    _books, codes = R._pq_index(spark, tmp_sf)
    old_rows = sorted(assigned.collect())
    assert assigned.storageLevel.useMemory and codes.storageLevel.useMemory
    old = R.table(spark, tmp_sf, "embeddings")
    _rewrite(f"{tmp_sf}/embeddings.parquet")
    assert R.table(spark, tmp_sf, "embeddings") is not old
    assert not assigned.storageLevel.useMemory  # unpersisted
    assert not codes.storageLevel.useMemory
    fresh = R._ivf_index(spark, tmp_sf)
    fresh_codes = R._pq_index(spark, tmp_sf)[1]
    assert fresh is not assigned and fresh_codes is not codes
    assert sorted(fresh.collect()) == old_rows  # same bytes, same layout
    ref = weakref.ref(old)
    del old
    gc.collect()
    assert ref() is None
    assert fresh.storageLevel.useMemory and fresh_codes.storageLevel.useMemory


def test_pq_topk_rejects_codes_without_books(spark):
    from similarity_search_with_hadoop_mapreduce_spark.operators import ann as A
    from similarity_search_with_hadoop_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    books = A.pq_codebooks(emb, m=4, sub_dim=16, k_sub=4, iters=1)
    codes = A.pq_encode(emb, books, sub_dim=16)
    with pytest.raises(ValueError, match="codes provided without"):
        A.pq_topk(emb, 0, codes=codes)
    with pytest.raises(ValueError, match="codes provided without"):
        A.pq_recall_multi(emb, n_queries=2, codes=codes)


def test_ivfpq_topk_rejects_index_without_books(spark):
    from similarity_search_with_hadoop_mapreduce_spark.operators import ann as A
    from similarity_search_with_hadoop_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    fake_index = spark.range(1)
    with pytest.raises(ValueError, match="index provided without"):
        A.ivfpq_topk(emb, 0, index=fake_index)


def test_literal_finiteness_guards():
    from similarity_search_with_hadoop_mapreduce_spark.operators import ann as A

    with pytest.raises(ValueError, match="finite"):
        A._lit_f(float("nan"))
    with pytest.raises(ValueError, match="finite"):
        A._lit_f(float("inf"))
    assert A._lit_f(1.5) == "1.5D"
    # ADC lookup tables route through the guard: a NaN centroid component
    # must raise at build time, not render 'nanD' into SQL
    bad_book = [[(0, [float("nan")] * 2, 1.0)]]
    with pytest.raises(ValueError, match="finite"):
        A._adc_exprs(bad_book, [1.0, 2.0], 1.0, 2, 1)
    with pytest.raises(ValueError, match="finite"):
        A._adc_exprs([[(0, [1.0, 1.0], 1.0)]], [1.0, 2.0], math.inf, 2, 1)


def test_save_books_rejects_nan(tmp_path):
    """The JSON book artifact must fail loudly at SAVE time on a
    non-finite component (strict JSON, engine-independent contract)."""
    import pytest

    from similarity_search_with_hadoop_mapreduce_spark.operators.ann import (
        save_books,
    )

    with pytest.raises(ValueError):
        save_books(
            str(tmp_path / "b.json"),
            coarse_book=[(0, [float("nan"), 1.0], 1.0)],
        )


def test_adc_rejects_book_geometry_mismatch():
    """Books with a different geometry than the caller's m/sub_dim must
    raise, not silently zero LUT terms (review r4)."""
    import pytest

    from similarity_search_with_hadoop_mapreduce_spark.operators.ann import (
        _adc_exprs,
    )

    good_book = [(0, [1.0, 2.0], 1.0)]
    # 2 books x sub_dim 2 over a 4-dim query: OK
    _adc_exprs([good_book, good_book], [1.0, 2.0, 3.0, 4.0], 1.0, 2, 1)
    with pytest.raises(ValueError, match="must cover the query dimension"):
        _adc_exprs([good_book], [1.0, 2.0, 3.0, 4.0], 1.0, 2, 1)
    wide_book = [(0, [1.0, 2.0, 3.0], 1.0)]
    with pytest.raises(ValueError, match="books/geometry mismatch"):
        _adc_exprs([wide_book, wide_book], [1.0, 2.0, 3.0, 4.0], 1.0, 2, 1)


def test_fan_out_follows_max_partition_bytes(spark):
    """fan_out repartitions only an input smaller than
    ``defaultParallelism × spark.sql.files.maxPartitionBytes``: the 64 KB
    sf0.001 documents file is under-split at the 128 MB default, and
    stops being so once the split size drops below file size ÷ cores."""
    from similarity_search_with_hadoop_mapreduce_spark.sources.tables import (
        fan_out,
    )

    path = f"{SF}/documents.parquet"
    parallelism = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(path)
    fanned = fan_out(docs)
    assert fanned is not docs
    assert "Repartition" in fanned._jdf.queryExecution().optimizedPlan().toString()

    split = os.path.getsize(path) // parallelism // 2
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    try:
        # a fresh frame: fan_out memoizes per DataFrame object
        fresh = spark.read.parquet(path)
        assert fan_out(fresh) is fresh
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_fan_out_memo_releases_unrepartitioned_frame(spark):
    """A frame fan_out leaves as is must stay collectable: the resident
    store holds the repartition decision, not the frame (the store holds
    its values strongly, so a frame stored as its own value never dies)."""
    from similarity_search_with_hadoop_mapreduce_spark.sources import tables as T

    path = f"{SF}/documents.parquet"
    split = os.path.getsize(path) // spark.sparkContext.defaultParallelism // 2
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    try:
        fresh = spark.read.parquet(path)
        assert T.fan_out(fresh) is fresh  # no repartition
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert T._resident_store[fresh].values == {"fan_out": 0}
    ref = weakref.ref(fresh)
    del fresh
    gc.collect()
    # a resident entry cannot outlive its frame
    assert ref() is None


def _sim_rows(df):
    return sorted((r.doc_id, r.query_id, r.score) for r in df.collect())


def _fresh_copy(spark, docs):
    """The same rows in a DataFrame whose plan no cache entry matches."""
    return spark.createDataFrame(docs.collect(), docs.schema)


def test_resident_shingle_sets_reused_and_exact(spark, monkeypatch):
    """Repeated scoring on one corpus frame through the Spark plans (the
    single- and multi-query ones, forced by reporting no index, as for a
    corpus the index cannot hold) reads one persisted shingle frame (an
    InMemoryTableScan, not a re-tokenizing scan) and answers exactly what
    a never-cached copy of the corpus answers."""
    from similarity_search_with_hadoop_mapreduce_spark.operators import (
        similarity as S,
    )
    from similarity_search_with_hadoop_mapreduce_spark.plans import explain_string
    from similarity_search_with_hadoop_mapreduce_spark.sources.tables import load_table

    monkeypatch.setattr(S, "_corpus_index", lambda documents: None)
    docs = load_table(spark, SF, "documents")
    fresh = _fresh_copy(spark, docs)
    for mode in ("parity", "jaccard"):
        first = _sim_rows(S.similarity_to_query(docs, 0, mode=mode))
        second_df = S.similarity_to_query(docs, 0, mode=mode)
        assert "InMemoryTableScan" in explain_string(second_df)
        assert _sim_rows(second_df) == first
        assert first == _sim_rows(S.similarity_to_query(fresh, 0, mode=mode))
        assert first  # a non-trivial answer
    sets = S._shingle_sets(docs)
    assert S._shingle_sets(docs) is sets
    assert sets.storageLevel.useMemory
    multi = S.similarity_multi_query(docs, [0, 1])
    assert "InMemoryTableScan" in explain_string(multi)
    assert sorted(multi.collect()) == sorted(
        S.similarity_multi_query(fresh, [0, 1]).collect()
    )


def test_resident_shingle_sets_follow_load_table_rewrite(spark, tmp_path):
    """An in-place rewrite with different rows gets a fresh resident
    frame, and a fresh top-k index, that answer from the NEW rows, even
    while the old vintage's frame is still alive (Spark's cache matches
    plans, and both vintages read the same path)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from similarity_search_with_hadoop_mapreduce_spark.operators import (
        similarity as S,
    )
    from similarity_search_with_hadoop_mapreduce_spark.sources.tables import load_table

    path = tmp_path / "documents.parquet"
    shutil.copy(f"{SF}/documents.parquet", path)
    old = load_table(spark, str(tmp_path), "documents")
    old_rows = _sim_rows(S.similarity_to_query(old, 0))
    old_sets = S._shingle_sets(old)
    old_top = S.top_k_similar(old, 0, k=10).collect()
    old_index = S._corpus_index(old)

    # doc 1 becomes a copy of the query doc 0, so it must score 1.0
    rows = pq.read_table(path).to_pylist()
    query_text = next(r["text"] for r in rows if r["doc_id"] == 0)
    for r in rows:
        if r["doc_id"] == 1:
            r["text"] = query_text
    pq.write_table(pa.Table.from_pylist(rows, schema=pq.read_schema(path)), path)

    new = load_table(spark, str(tmp_path), "documents")
    assert new is not old
    new_rows = _sim_rows(S.similarity_to_query(new, 0))
    assert S._shingle_sets(new) is not old_sets
    assert new_rows != old_rows
    assert new_rows == _sim_rows(S.similarity_to_query(_fresh_copy(spark, new), 0))
    assert (1, "0", 1.0) in new_rows
    top = S.top_k_similar(new, 0, k=10).collect()
    assert S._corpus_index(new) not in (None, old_index)
    assert top != old_top
    assert (top[0].doc_id, top[0].score) == (1, 1.0)
    assert top == S.top_k_similar(_fresh_copy(spark, new), 0, k=10).collect()


def test_parity_doc_count_follows_load_table_rewrite(spark, tmp_path):
    """Without ``total_documents`` the parity prune's ``n`` is the row
    count of the current vintage's resident sets: the answer equals one
    with an explicit ``count()`` of the ``load_table`` frame, and after a
    rewrite that adds a document, a shingle that was in every document
    (pruned as ``df == n``) survives, so the scores follow the new rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from similarity_search_with_hadoop_mapreduce_spark.operators.similarity import (
        similarity_to_query,
    )
    from similarity_search_with_hadoop_mapreduce_spark.sources.tables import load_table
    from tests.reference_sim import mr_similarity

    path = tmp_path / "documents.parquet"
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

    def scores(corpus):
        rows = [{"doc_id": k, "text": v} for k, v in corpus.items()]
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
        docs = load_table(spark, str(tmp_path), "documents")
        got = {r.doc_id: r.score for r in similarity_to_query(docs, 0).collect()}
        explicit = similarity_to_query(docs, 0, total_documents=docs.count())
        assert got == {r.doc_id: r.score for r in explicit.collect()}
        assert got == mr_similarity(corpus, 0)
        return got, docs

    # "a b c" is in every document, so n = 4 prunes it
    corpus = {
        0: "a b c x y z",
        1: "a b c x y z w",
        2: "a b c p q r",
        3: "a b c k l m",
    }
    old, old_docs = scores(corpus)
    assert old == {1: 3 / 5}  # doc 2 shares only "a b c": absent
    # one more document without it: df("a b c") = 4 != n = 5 survives
    new, new_docs = scores({**corpus, 4: "nothing shared with the query"})
    assert new_docs is not old_docs
    assert new == {1: 1.0, 2: 1 / 4, 3: 1 / 4}


def test_parity_doc_count_caches_the_sets(spark, monkeypatch):
    """On the Spark plan (forced by reporting no index, as for a corpus
    the index cannot hold), the count behind a derived ``n`` reads the
    resident sets, so the one action ``similarity_to_query`` runs fills
    their cache and the scoring job reads them: a one-shot caller scans
    its corpus once, not once to count and once to score."""
    from similarity_search_with_hadoop_mapreduce_spark.operators import (
        similarity as S,
    )
    from similarity_search_with_hadoop_mapreduce_spark.plans import explain_string

    monkeypatch.setattr(S, "_corpus_index", lambda documents: None)

    docs = spark.createDataFrame(
        [(i, f"count once word{i} alpha beta gamma {i % 3}") for i in range(9)],
        "doc_id long, text string",
    )

    def cached_partitions():
        return sum(
            r.numCachedPartitions()
            for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        )

    before = cached_partitions()
    scored = S.similarity_to_query(docs, 0)  # runs only the count
    assert cached_partitions() > before
    assert "InMemoryTableScan" in explain_string(scored)
    assert _sim_rows(scored) == _sim_rows(
        S.similarity_to_query(_fresh_copy(spark, docs), 0)
    )


def test_resident_shingle_sets_unpersisted_with_corpus(spark):
    """The store's one finalizer releases a collected corpus's resident
    values: it unpersists the sets and drops the top-k index."""
    from similarity_search_with_hadoop_mapreduce_spark.operators import (
        similarity as S,
    )

    docs = spark.createDataFrame(
        [(i, f"resident word{i} alpha beta gamma {i}") for i in range(12)],
        "doc_id long, text string",
    )
    S.top_k_similar(docs, 0, k=3).collect()
    sets = S._shingle_sets(docs)  # made and cached, as a Spark plan would
    assert sets.storageLevel.useMemory
    index = weakref.ref(S._corpus_index(docs))
    del docs
    gc.collect()
    assert not sets.storageLevel.useMemory
    assert index() is None


def test_index_build_releases_the_shingle_sets(spark, monkeypatch):
    """The index is built from the corpus's texts, not from its shingle
    sets: once top_k_similar has built it, the corpus has no resident
    sets, and similarity_to_query answers from the index what its Spark
    plan answers. Only a Spark plan makes and caches the sets (forced
    here by reporting no index), and a corpus the index cannot hold (a
    NULL doc id) keeps its sets cached, because its requests run the
    Spark plans."""
    from similarity_search_with_hadoop_mapreduce_spark.operators import (
        similarity as S,
    )
    from similarity_search_with_hadoop_mapreduce_spark.plans import explain_string
    from similarity_search_with_hadoop_mapreduce_spark.sources import tables as T

    def stored_sets(docs):
        # the resident frame as is: _shingle_sets would cache it again
        return T._resident_store[docs].values["shingle_sets"].storageLevel

    rows = [(i, f"release word{i} alpha beta gamma {i % 4}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    S.top_k_similar(docs, 0, k=3).collect()
    assert S._corpus_index(docs) is not None
    indexed = {}
    for mode in ("parity", "jaccard"):
        df = S.similarity_to_query(docs, 0, mode=mode)
        assert "LocalTableScan" in explain_string(df)
        indexed[mode] = _sim_rows(df)
    assert "shingle_sets" not in T._resident_store[docs].values
    with monkeypatch.context() as m:
        m.setattr(S, "_corpus_index", lambda documents: None)
        for mode in ("parity", "jaccard"):
            df = S.similarity_to_query(docs, 0, mode=mode)
            assert "InMemoryTableScan" in explain_string(df)
            assert indexed[mode] == _sim_rows(df) == _sim_rows(
                S.similarity_to_query(_fresh_copy(spark, docs), 0, mode=mode)
            )
    assert stored_sets(docs).useMemory

    nulls = spark.createDataFrame(rows + [(None, "release alpha beta")], docs.schema)
    S.top_k_similar(nulls, 0, k=3).collect()
    assert S._corpus_index(nulls) is None
    assert stored_sets(nulls).useMemory


def test_resident_finalizer_tolerates_stopped_session():
    """The store's unpersist finalizer runs whenever the collector gets to
    the corpus, possibly after its session was stopped: the failing JVM
    call (a Py4J error, or a JVM exception PySpark converted) must not
    escape."""
    from py4j.protocol import Py4JError
    from pyspark.errors import PySparkException
    from pyspark.sql import DataFrame

    from similarity_search_with_hadoop_mapreduce_spark.sources import tables as T

    calls = []

    class Gone(DataFrame):
        def __new__(cls, exc):
            return object.__new__(cls)

        def __init__(self, exc):
            self.exc = exc

        def unpersist(self, blocking=False):
            calls.append(self.exc)
            raise self.exc("SparkContext has been shutdown")

    T._release({"sets": Gone(Py4JError), "layout": ([], Gone(PySparkException))})
    assert calls == [Py4JError, PySparkException]


def test_multi_query_probe_memo_holds_the_last_battery(spark, monkeypatch):
    """similarity_multi_query's broadcast-guard probe (its Spark plan's,
    forced by reporting no index) is remembered for the last battery
    only: the same battery sent again runs no probe, and a stream of
    fresh batteries leaves one memo entry, not one per battery."""
    from similarity_search_with_hadoop_mapreduce_spark.operators import (
        similarity as S,
    )
    from similarity_search_with_hadoop_mapreduce_spark.sources import tables as T

    monkeypatch.setattr(S, "_corpus_index", lambda documents: None)
    docs = spark.createDataFrame(
        [(i, f"probe word{i} alpha beta gamma {i}") for i in range(8)],
        "doc_id long, text string",
    )
    probes = []
    first = type(docs).first  # the probe is the operator's one first()
    monkeypatch.setattr(
        type(docs), "first", lambda self: probes.append(self) or first(self)
    )

    def probed(battery):
        probes.clear()
        S.similarity_multi_query(docs, battery)
        return len(probes)

    for i in range(1, 7):
        assert probed([0, i]) == 1
        assert probed([0, i]) == 0
    slot = T._resident_store[docs].values["multi_query_probe"]
    assert len(slot) == 1 and slot[0][0] == (0, 6)
    assert probed([0, 1]) == 1  # replaced by the later batteries


def test_resident_shingle_sets_survive_plan_equal_corpus_collected(
    spark, monkeypatch
):
    """Two live corpus frames with equal plans share one Spark cache
    entry; when the first is collected its finalizer drops that entry,
    and the survivor must cache its sets again, not re-shingle on every
    request. (Run through similarity_to_query's Spark plan, forced by
    reporting no index: the plans score from the sets, the index from
    the texts.)"""
    from similarity_search_with_hadoop_mapreduce_spark.operators import (
        similarity as S,
    )
    from similarity_search_with_hadoop_mapreduce_spark.plans import explain_string

    monkeypatch.setattr(S, "_corpus_index", lambda documents: None)

    path = f"{SF}/documents.parquet"
    first = spark.read.parquet(path)
    second = spark.read.parquet(path)
    S.similarity_to_query(first, 0).collect()
    S.similarity_to_query(second, 1).collect()
    del first
    gc.collect()
    df = S.similarity_to_query(second, 2)
    assert "InMemoryTableScan" in explain_string(df)
    assert S._shingle_sets(second).storageLevel.useMemory
    assert _sim_rows(df) == _sim_rows(
        S.similarity_to_query(_fresh_copy(spark, second), 2)
    )


def test_topk_index_survives_plan_equal_corpus_collected(spark):
    """Indexes are per corpus object: when a plan-equal corpus is
    collected (and drops the shared cache entry of the sets), the
    survivor's index still answers what a fresh copy answers."""
    from similarity_search_with_hadoop_mapreduce_spark.operators import (
        similarity as S,
    )

    path = f"{SF}/documents.parquet"
    first = spark.read.parquet(path)
    second = spark.read.parquet(path)
    S.top_k_similar(first, 0, k=5).collect()
    S.top_k_similar(second, 1, k=5).collect()
    del first
    gc.collect()
    for mode in ("parity", "jaccard"):
        assert _sim_rows(S.top_k_similar(second, 2, k=5, mode=mode)) == _sim_rows(
            S.top_k_similar(_fresh_copy(spark, second), 2, k=5, mode=mode)
        )


def _compiles(spark) -> int:
    """Janino compiles of generated classes so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_requests_compile_no_new_code(spark, monkeypatch):
    """The query id is bound as data, so requests for different ids run
    one plan and one set of generated classes: by the third id, Spark's
    codegen cache answers every stage and nothing is compiled. The
    ``"multi"`` leg runs the multi-query Spark plan, forced by reporting
    no index; ``"multi_indexed"`` is its answer from the index."""
    from similarity_search_with_hadoop_mapreduce_spark.operators import (
        similarity as S,
    )
    from similarity_search_with_hadoop_mapreduce_spark.sources.tables import load_table

    def multi_plan(d, q):
        with monkeypatch.context() as m:
            m.setattr(S, "_corpus_index", lambda documents: None)
            return S.similarity_multi_query(d, [q, q + 7])

    docs = load_table(spark, SF, "documents")
    ops = {
        "parity": lambda d, q: S.top_k_similar(d, q, k=10),
        "jaccard": lambda d, q: S.similarity_to_query(d, q, mode="jaccard"),
        "multi": multi_plan,
        "multi_indexed": lambda d, q: S.similarity_multi_query(d, [q, q + 7]),
    }
    ids = (3, 11, 19)
    answers = {}
    for name, op in ops.items():
        for q in ids:
            before = _compiles(spark)
            answers[name, q] = sorted(op(docs, q).collect())
            assert answers[name, q]  # a non-trivial answer
        assert _compiles(spark) == before, name  # the third id compiled nothing
    for q in ids:
        assert answers["multi", q] == answers["multi_indexed", q], q
    fresh = _fresh_copy(spark, docs)
    for (name, q), rows in answers.items():
        assert rows == sorted(ops[name](fresh, q).collect()), (name, q)


def test_query_id_binding_edge_cases(spark, tmp_path, monkeypatch):
    """Ids reach the plan as literal rows of the corpus's doc_id type:
    bigint ids beyond the int range, and string ids holding a space or
    '%', score as the reference does; a repeated id scores once; an id
    absent from the corpus, like an empty id list, matches no query
    document and yields an empty result. A multi-query battery answers
    alike from the index and from both Spark plans (forced by reporting
    no index, and the broadcast limit)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from similarity_search_with_hadoop_mapreduce_spark.operators import (
        similarity as S,
    )
    from similarity_search_with_hadoop_mapreduce_spark.sources.tables import (
        load_corpus_dir,
        load_table,
    )
    from tests.reference_sim import jaccard_similarity, mr_similarity

    def multi_query(frame, battery):
        """The battery's sorted rows, equal from the index and from the
        broadcast and shuffled Spark plans."""
        rows = sorted(S.similarity_multi_query(frame, battery).collect())
        for limit in (S._BROADCAST_TERM_LIMIT, -1):
            with monkeypatch.context() as m:
                m.setattr(S, "_corpus_index", lambda documents: None)
                m.setattr(S, "_BROADCAST_TERM_LIMIT", limit)
                plan = S.similarity_multi_query(frame, battery).collect()
            assert sorted(plan) == rows, (battery, limit)
        return rows

    def check(frame, corpus, q):
        got = {r.doc_id: r.score for r in S.similarity_to_query(frame, q).collect()}
        want = mr_similarity(corpus, q)
        assert got.keys() == want.keys() and got, q
        assert all(math.isclose(got[k], want[k], rel_tol=1e-12) for k in want)
        got = {
            r.doc_id: r.score
            for r in S.similarity_to_query(frame, q, mode="jaccard").collect()
        }
        assert got == pytest.approx(jaccard_similarity(corpus, q), rel=1e-12)
        multi = multi_query(frame, [q])
        assert {r.doc_id for r in multi} == set(got)
        assert {r.query_id for r in multi} == {str(q)}
        # a repeated id scores once, as a one-off id does
        assert multi_query(frame, [q, q]) == multi

    def assert_empty(frame, q):
        assert S.similarity_to_query(frame, q).collect() == []
        assert S.similarity_to_query(frame, q, mode="jaccard").collect() == []
        assert S.top_k_similar(frame, q, k=3).collect() == []
        assert multi_query(frame, [q]) == []

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox sat down by the river",
        "a quick brown fox jumps over fences all day",
        "the lazy dog jumps over the quick brown fox again",
        "completely different text with no shared words",
    ]

    # bigint ids past the int range (load_table)
    base = 2**40
    corpus = {base + i: t for i, t in enumerate(texts)}
    (tmp_path / "sf").mkdir()
    pq.write_table(
        pa.table({
            "doc_id": pa.array(list(corpus), pa.int64()),
            "text": list(corpus.values()),
        }),
        tmp_path / "sf" / "documents.parquet",
    )
    docs = load_table(spark, str(tmp_path / "sf"), "documents")
    check(docs, corpus, base)
    check(docs, corpus, base + 3)
    for absent in (base + 99, 0, -1):
        assert_empty(docs, absent)
    assert multi_query(docs, []) == []

    # string ids from file names (load_corpus_dir)
    names = ["query", "my doc", "100%", "p+q", "other"]
    (tmp_path / "dir").mkdir()
    for name, text in zip(names, texts):
        (tmp_path / "dir" / f"{name}.txt").write_text(text)
    corpus = dict(zip(names, texts))
    raw = load_corpus_dir(spark, str(tmp_path / "dir"))
    for q in ("my doc", "100%", "query"):
        check(raw, corpus, q)
    for absent in ("my%20doc", "100%25", "nope", "Query"):
        assert_empty(raw, absent)
