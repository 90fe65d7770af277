"""Cache-invalidation and literal-guard behavior (ADVICE r3).

The invalidation policy lives in ONE place — ``load_table`` keys on the
parquet fingerprint, so an in-place fixture rewrite yields a fresh
DataFrame object and every identity-keyed plan-routing memo downstream
(_fan_cache, _span_cache, _qterms_cache) starts clean. The persisted
ANN index cache additionally unpersists superseded entries.
"""

from __future__ import annotations

import math
import os
import shutil

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
    """The identity-keyed span memo follows load_table's fingerprint:
    a rewritten fixture cannot serve a stale span."""
    from similarity_search_with_hadoop_mapreduce_spark.operators import temporal as TP
    from similarity_search_with_hadoop_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, tmp_sf, "embeddings")
    TP._span_cache.setdefault(emb, {})["ts"] = "SENTINEL"
    _rewrite(f"{tmp_sf}/embeddings.parquet")
    emb2 = load_table(spark, tmp_sf, "embeddings")
    assert "ts" not in TP._span_cache.setdefault(emb2, {})


def test_ivf_serve_cache_unpersists_stale(spark, tmp_sf):
    from similarity_search_with_hadoop_mapreduce_spark.registry import ann as R

    d: dict = {}
    df_old = spark.range(5).persist()
    df_old.count()
    assert df_old.storageLevel.useMemory
    d[("assigned", tmp_sf, ("fp-old",))] = df_old
    d[("pq", tmp_sf, ("fp-old",))] = (["books"], df_old)
    d[("assigned", "/other/sf", ("fp-old",))] = "untouched"
    R._evict_stale(d, tmp_sf, ("fp-new",))
    assert not df_old.storageLevel.useMemory  # unpersisted
    assert ("assigned", tmp_sf, ("fp-old",)) not in d
    assert ("pq", tmp_sf, ("fp-old",)) not in d
    assert d[("assigned", "/other/sf", ("fp-old",))] == "untouched"


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
