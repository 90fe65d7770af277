"""Deterministic sampling / splitting operators for training-data curation.

``df.sample()`` draws from a per-partition RNG stream, so results change
with partitioning, retries, and engine — unacceptable for dataset
curation, where a document's split assignment must be a pure function of
its identity (reproducible across runs, engines, and backfills). All
operators here hash the id column instead (md5, same digest in any
engine): map-only, no shuffle, no state, and the DuckDB oracles reproduce
them bit-for-bit.

At 100 TB these are the cheapest operators in the pipeline: a projection
+ filter that pushes down past nothing but reads only the id/strata
columns (column pruning keeps the scan narrow).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2^31 - 1; hash buckets live in [0, M). 15 hex digits < 2^60 fits a long.
_M = 2147483647


def hash_bucket(col: Column, buckets: int = 10000) -> Column:
    """Stable bucket in [0, buckets) from md5 of the column's string form."""
    h = (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(_M))
    )
    return h % buckets


def train_val_test_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train: float = 0.8,
    val: float = 0.1,
    buckets: int = 10000,
) -> DataFrame:
    """Assign every row a deterministic 'train'/'val'/'test' split.

    The split is a pure function of the id — adding or removing other rows
    never moves a document between splits (critical for dedup-then-split
    pipelines where leakage across splits poisons evals).
    """
    b = hash_bucket(F.col(id_col), buckets)
    split = (
        F.when(b < int(train * buckets), F.lit("train"))
        .when(b < int((train + val) * buckets), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float,
    id_col: str = "doc_id",
    strata_col: str = "lang",
    buckets: int = 10000,
) -> DataFrame:
    """Keep a per-stratum deterministic fraction of rows (e.g. downsample
    dominant languages): keep iff hash_bucket(id) < rate(stratum)·buckets.

    Because the keep decision hashes only the id, the sample is a superset
    relation across rates (rate 0.1 ⊂ rate 0.2 ⊂ …) — resampling at a
    higher rate only *adds* documents, which keeps downstream caches and
    dedup state valid.
    """
    b = hash_bucket(F.col(id_col), buckets)
    rate = F.lit(None).cast("double")
    expr = None
    for stratum, r in sorted(rates.items()):
        cond = F.col(strata_col) == stratum
        expr = F.when(cond, F.lit(r)) if expr is None else expr.when(cond, F.lit(r))
    rate = expr.otherwise(F.lit(default_rate)) if expr is not None else F.lit(default_rate)
    return df.filter(b < (rate * buckets).cast("long"))


def weighted_sample(
    df: DataFrame,
    weight_col: Column | str,
    id_col: str = "doc_id",
    buckets: int = 10000,
) -> DataFrame:
    """Keep each row with probability equal to its per-row weight in
    [0, 1] — deterministically: row kept iff
    ``hash_bucket(id) < weight * buckets``. Same engine-independent
    md5 machinery as the split/stratified samplers, so the decision is
    stable under repartitioning, retries, and reruns, and an oracle can
    replay it; quality-weighted corpus downsampling is the canonical
    use (weight = quality score).

    Weights are validated per row: NULL, NaN, infinite, or out-of-[0,1]
    weights raise at execution instead of silently degenerating (a NaN
    or negative weight compares false and would drop every such row;
    w > 1 would saturate to keep-all) — the same fail-loudly contract as
    ``_recall_sample_filter``'s fraction guard in :mod:`operators.ann`.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    wd = w.cast("double")
    bad = (
        wd.isNull()
        | F.isnan(wd)
        | (wd < F.lit(0.0))
        | (wd > F.lit(1.0))
    )
    guarded = F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit("weighted_sample: weight must be finite in [0, 1], got "),
                F.coalesce(wd.cast("string"), F.lit("NULL")),
            )
        ).cast("double"),
    ).otherwise(wd)
    return df.filter(
        hash_bucket(F.col(id_col), buckets).cast("double")
        < guarded * F.lit(float(buckets))
    )


def mixture_sample(
    df: DataFrame,
    targets: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    buckets: int = 10000,
    weight_col: str | None = None,
) -> DataFrame:
    """Resample strata to a target mixture — the domain/language
    rebalancing step of a training-data recipe ("30% en, 25% es, …"),
    downsample-only: the keep-rate for stratum ``g`` is
    ``min(1, S·target_g / n_g)`` where ``S = min_g(n_g / target_g)``,
    so the most-constraining stratum keeps every row and the rest are
    hash-downsampled until the output proportions follow ``targets``
    (which are relative weights — they need not sum to 1). Strata not
    listed in ``targets`` are dropped; listed strata absent from the
    data contribute nothing (their target mass is simply missing — the
    operator never upsamples).

    The keep decision is the same engine-independent md5 machinery as
    the rest of this module — kept iff
    ``hash_bucket(id) < floor(rate_g · buckets)`` — so the sample is a
    pure function of (id, targets, corpus census): stable under
    repartitioning, retries, and reruns, replayable by a SQL oracle,
    and per-stratum it is a subset of any run with a larger rate.

    100 TB shape: one narrow aggregation over ``strata_col`` (map-side
    partial combine collapses each task to ≤ |strata| rows), the
    per-stratum thresholds derive from that tiny frame, and the rates
    come back as a BROADCAST inner join + map-only filter — no wide
    shuffle of the corpus, no driver collect in the row path.

    With ``weight_col``, the census and the targets are measured in that
    column's INTEGER mass instead of row count — the token-share mode a
    real recipe is written in ("30% of training TOKENS are en"). Weights
    must be non-negative integers: integer sums are exact in any engine,
    so the derived double thresholds stay bit-identical to the oracle's
    (a double-weighted census would be summation-order-dependent).
    NULL or negative weights fail loudly at execution. The keep decision
    is still per-row by id hash, so the achieved token share matches the
    recipe in expectation (exactly as doc-count mode matches doc share).
    """
    for g, t in targets.items():
        if not (isinstance(t, (int, float)) and t == t and 0.0 < float(t) < float("inf")):
            raise ValueError(
                f"mixture_sample: target for {g!r} must be finite and > 0, got {t!r}"
            )
    if not targets:
        raise ValueError("mixture_sample: targets must be non-empty")

    s_col = F.col(strata_col)
    if weight_col is None:
        mass = F.count(F.lit(1))
    else:
        wc = F.col(weight_col).cast("long")
        mass = F.sum(
            F.when(
                wc.isNull() | (wc < 0),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "mixture_sample: weight must be a non-negative"
                            " integer, got "
                        ),
                        F.coalesce(wc.cast("string"), F.lit("NULL")),
                    )
                ).cast("long"),
            ).otherwise(wc)
        )
    census = (
        df.filter(s_col.isin(*targets.keys()))
        .groupBy(s_col.alias("__stratum"))
        .agg(mass.alias("__n"))
    )
    t_col = None
    for g, t in sorted(targets.items()):
        cond = F.col("__stratum") == g
        t_col = F.when(cond, F.lit(float(t))) if t_col is None else t_col.when(cond, F.lit(float(t)))
    census = census.withColumn("__target", t_col)
    # global min over the tiny (≤ |strata| rows) census via an
    # unpartitioned window — NOT agg + crossJoin, which would duplicate
    # the census subtree and re-scan the corpus once per branch
    from pyspark.sql import Window

    scale_w = Window.partitionBy()
    rates = census.withColumn(
        "__scale", F.min(F.col("__n") / F.col("__target")).over(scale_w)
    ).select(
        F.col("__stratum"),
        F.floor(
            F.least(
                F.lit(1.0), (F.col("__scale") * F.col("__target")) / F.col("__n")
            )
            * F.lit(float(buckets))
        )
        .cast("long")
        .alias("__thr"),
    )
    return (
        df.join(F.broadcast(rates), s_col == F.col("__stratum"), "inner")
        .filter(hash_bucket(F.col(id_col), buckets) < F.col("__thr"))
        .drop("__stratum", "__thr")
    )


def pack_sequences(
    documents: DataFrame,
    max_tokens: int = 2048,
    n_shards: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic pack-then-chunk sequence assignment — the layout
    step of GPT-style pretraining data: documents are concatenated (in
    id order, within a shard) and the stream is chunked into fixed
    ``max_tokens`` training windows; each document is assigned the
    window its FIRST token lands in plus its offset inside it, so a
    writer can materialize the packed sequences with no further state.

    Returns ``(doc_id, shard, n_tokens, bin_id, bin_offset)``:
    ``shard = hash_bucket(id) % n_shards`` (the same engine-independent
    md5 machinery as the split/sample family), ``bin_id =
    tokens_before // max_tokens`` and ``bin_offset = tokens_before %
    max_tokens`` where ``tokens_before`` is the running Java-split
    token count of the shard's smaller-id documents. Counts are of the
    NON-EMPTY tokens — the same kept-token stream ``encode_with_vocab``
    emits ids for, so window boundaries line up exactly with the
    materialized ids (the raw Java array can carry a phantom leading
    empty token on leading-delimiter text, which no writer
    materializes). Documents longer
    than ``max_tokens`` simply span several windows — the
    concat-and-chunk contract, not first-fit binning (which is
    inherently sequential and packs no tighter on natural-length docs).

    100 TB shape: ONE exchange hashing docs to ``n_shards`` uniform
    shards, then a per-shard sorted window (spillable ExternalSorter
    run) computes the running sum — no global sort, no driver state;
    size ``n_shards`` to the cluster so a shard is one sort run. Within
    a shard the assignment is a pure function of the shard's id set:
    reruns and retries reproduce it bit-for-bit (and the oracle can
    replay it), while inserting a doc only renumbers LATER offsets of
    its own shard — the locality that makes incremental repacking
    cheap."""
    from pyspark.sql import Window

    from similarity_search_with_hadoop_mapreduce_spark.functions.text import (
        java_split_tokens,
    )

    shard = (hash_bucket(F.col(id_col)) % n_shards).alias("shard")
    staged = documents.select(
        F.col(id_col).alias("doc_id"),
        shard,
        F.size(
            F.filter(
                java_split_tokens(text_col),
                lambda t: F.length(t) > 0,
            )
        ).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return staged.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(before / F.lit(max_tokens)).alias("bin_id"),
        (before % F.lit(max_tokens)).alias("bin_offset"),
    )


def cluster_safe_split(
    clusters: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    train: float = 0.8,
    val: float = 0.1,
    buckets: int = 10000,
) -> DataFrame:
    """Leakage-safe train/val/test split: hash the CLUSTER id, not the
    document id, so every member of a near-duplicate cluster lands in the
    same split.

    :func:`train_val_test_split` on raw doc ids silently leaks when the
    corpus contains near-duplicates — two copies of the same document can
    land in train and test, and the eval measures memorization of the
    training copy instead of generalization. The fix is split-after-dedup
    -clustering: ``clusters`` is :func:`operators.dedup.duplicate_clusters`
    output (one row per doc, ``cluster_id`` = min doc id of its connected
    component; singletons are their own cluster), and the split decision
    hashes ``cluster_col`` with the same engine-independent md5 bucket as
    every other sampler here — a pure function of the cluster, so all
    members agree by construction and the assignment is stable under
    corpus growth that does not merge clusters. Map-only over the
    clusters frame.

    Returns ``clusters`` with a ``split`` column appended.
    """
    b = hash_bucket(F.col(cluster_col), buckets)
    split = (
        F.when(b < int(train * buckets), F.lit("train"))
        .when(b < int((train + val) * buckets), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return clusters.withColumn("split", split)
